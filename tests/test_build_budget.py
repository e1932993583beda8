"""Driver-side build budgets: how many py4j gateway commands it takes
to BUILD (not run) the benchmark-path plans, and how many Spark jobs a
staged dump table costs.

Each ``pyspark.sql.functions`` call is about ten gateway round trips,
so a wide projection built Column by Column costs thousands of them
per build. These plans send their per-run expressions to the JVM as SQL
text instead (one ``selectExpr``/``F.expr`` call per projection). The
budgets below hold that property: a regression to Column-by-Column
construction lands far above them (about 10,500 commands for the
snapshot, 3,200-3,800 for the band table and about 1,430 for a staged
21-column dump table when built that way).
"""

from __future__ import annotations

import contextlib

import pytest

from gcd_etl_spark.gcd.microdump import write_microdump
from gcd_etl_spark.gcd.pipeline import build_snapshot
from gcd_etl_spark.gcd.schema import GCD_INPUT_TABLES
from gcd_etl_spark.operators import dedup as D
from gcd_etl_spark.sources.dump import format_insert_statements, stage_dump_table
from tests.conftest import spark_jobs

#: Gateway commands for one ``build_snapshot`` over staged tables,
#: dictionary collect included.
SNAPSHOT_BUDGET = 600
#: Gateway commands for one ``minhash_band_table`` build.
BAND_TABLE_BUDGET = 250
#: Gateway commands for one ``stage_dump_table`` of the 21-column
#: ``gcd_issue`` with ``out_path``: build, write and read-back.
STAGE_BUDGET = 400


#: py4j's "delete this object" command: Python-side garbage collection
#: of objects made before the block, not work the build asked for.
_MEMORY_DELETE = "m\nd\n"


@contextlib.contextmanager
def gateway_commands(spark):
    """Count the commands the driver sends through the py4j gateway
    inside the block, object deletions excepted; yields a one-element
    list holding the count."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(_MEMORY_DELETE):
            count[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield count
    finally:
        del client.send_command


@pytest.fixture(scope="module")
def staged_tables(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("gcd_budget"))
    write_microdump(d)
    return {t: spark.read.parquet(f"{d}/{t}.parquet") for t in GCD_INPUT_TABLES}


def test_build_snapshot_gateway_budget(spark, staged_tables):
    build_snapshot(spark, staged_tables, "2024-01-15")  # first build warms the JVM side
    with gateway_commands(spark) as count:
        build_snapshot(spark, staged_tables, "2024-01-15")
    assert count[0] <= SNAPSHOT_BUDGET, count[0]


@pytest.mark.parametrize("portable", [False, True], ids=["xxhash", "portable"])
def test_minhash_band_table_gateway_budget(spark, sf_smoke, portable):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    D.minhash_band_table(docs, portable=portable)
    with gateway_commands(spark) as count:
        D.minhash_band_table(docs, portable=portable)
    assert count[0] <= BAND_TABLE_BUDGET, count[0]


def test_stage_dump_table_one_job_and_gateway_budget(spark, staged_tables, tmp_path):
    """A warm ``stage_dump_table(..., out_path=...)`` runs ONE Spark job,
    the staging write: the read-back takes the declared schema instead
    of inferring it. Its casts go to the JVM as one SQL-text
    projection."""
    issue = staged_tables["gcd_issue"]
    dump = tmp_path / "dump.sql"
    dump.write_text("\n".join(format_insert_statements("gcd_issue", map(tuple, issue.collect()))))
    out = str(tmp_path / "staged")
    stage_dump_table(spark, str(dump), "gcd_issue", issue.schema, out_path=out)
    with spark_jobs(spark) as jobs, gateway_commands(spark) as count:
        stage_dump_table(spark, str(dump), "gcd_issue", issue.schema, out_path=out)
    assert jobs[0] == 1
    assert count[0] <= STAGE_BUDGET, count[0]
