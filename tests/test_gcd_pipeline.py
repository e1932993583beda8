"""GCD flagship-pipeline golden test (SURVEY.md §5.2 layer 2).

Synthesizes the GCD-shaped micro-dump (FIXTURES.md §2), runs the full
Spark snapshot build, and differentially compares every row and
column against the independent DuckDB restatement in gcd/oracle.py —
plus property checks the SQL oracle can't express (F10 expansion
algebra) and the partitioned-sink contract (S5/S8).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from gcd_etl_spark.gcd.credits import ATOMIC_FIELDS, CREDIT_TYPE_EXPANSION
from gcd_etl_spark.gcd.microdump import write_microdump
from gcd_etl_spark.gcd.oracle import snapshot_oracle_sql
from gcd_etl_spark.gcd.pipeline import build_snapshot, collect_dict_maps, write_gcd_snapshot
from gcd_etl_spark.gcd.schema import GCD_SNAPSHOT_SCHEMA, GcdSchemaFlags
from tests.conftest import assert_df_matches_con

RUN_DATE = "2024-01-15"


@pytest.fixture(scope="module")
def dump_dir(tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("gcd_dump")
    write_microdump(str(d))
    return str(d)


@pytest.fixture(scope="module")
def gcd_tables(spark, dump_dir):
    from gcd_etl_spark.gcd.schema import GCD_INPUT_TABLES

    return {t: spark.read.parquet(f"{dump_dir}/{t}.parquet") for t in GCD_INPUT_TABLES}


@pytest.fixture(scope="module")
def duck_gcd(dump_dir):
    from gcd_etl_spark.gcd.schema import GCD_INPUT_TABLES

    con = duckdb.connect()
    for t in GCD_INPUT_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dump_dir}/{t}.parquet')")
    yield con
    con.close()


def test_snapshot_matches_duckdb(spark, gcd_tables, duck_gcd):
    """Every column of every output row matches the independent SQL
    restatement — the end-to-end ETL golden test."""
    df = build_snapshot(spark, gcd_tables, RUN_DATE)
    assert_df_matches_con(df, duck_gcd, snapshot_oracle_sql(RUN_DATE), "gcd_snapshot")


def test_collect_dict_maps_skips_null_keys(spark, gcd_tables):
    """A malformed dump id try-casts to NULL; that dictionary row must
    be skipped (the reference's ``d.id = ...`` never matches NULL),
    not abort the nightly with a TypeError."""
    country = gcd_tables["stddata_country"]
    id_type = country.schema["id"].dataType.simpleString()
    bad = country.limit(1).withColumn("id", F.lit(None).cast(id_type))
    tables = dict(gcd_tables, stddata_country=country.unionByName(bad))
    got = collect_dict_maps(tables)
    assert got == collect_dict_maps(gcd_tables)
    assert None not in got["stddata_country"]


def test_output_schema_exact(spark, gcd_tables):
    df = build_snapshot(spark, gcd_tables, RUN_DATE)
    # simpleString ignores container-element nullability, which Spark
    # tightens when it can prove non-null (e.g. split output)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in GCD_SNAPSHOT_SCHEMA.fields
    ]


def test_fanout_and_storyless_issues(spark, gcd_tables):
    """J5 semantics: one output row per (issue x story); issues with
    no stories emit exactly one row with a null story subtree
    (reference Main.java:216,321,459)."""
    df = build_snapshot(spark, gcd_tables, RUN_DATE)
    n_stories = gcd_tables["gcd_story"].count()
    issues_with_stories = (
        gcd_tables["gcd_story"].select("issue_id").distinct().count()
    )
    n_issues = gcd_tables["gcd_issue"].count()
    expected = n_stories + (n_issues - issues_with_stories)
    assert df.count() == expected
    storyless = df.where(F.col("story_id").isNull())
    assert storyless.count() == n_issues - issues_with_stories
    # story subtree fully null on story-less rows
    row = storyless.select("story_title", "story_script", "story_credit_source").first()
    assert row == (None, None, None)


def test_credit_expansion_algebra():
    """F10 property (SURVEY.md §5.2 layer 3): every composite type's
    expansion equals the union of its parts' expansions, in enum
    order (reference GcdStoryCredit.java:62-97)."""
    composites = {7: [2, 3], 8: [2, 3, 4], 10: [1, 2, 3], 11: [1, 2, 3, 4], 12: [1, 2, 3, 5], 13: [1, 2, 3, 4, 5]}
    for comp, parts in composites.items():
        flat = [f for p in parts for f in CREDIT_TYPE_EXPANSION[p]]
        assert sorted(CREDIT_TYPE_EXPANSION[comp]) == sorted(flat)
        order = {f: i for i, f in enumerate(ATOMIC_FIELDS)}
        assert CREDIT_TYPE_EXPANSION[comp] == sorted(CREDIT_TYPE_EXPANSION[comp], key=order.get)


def test_schema_flags_null_out_columns(spark, gcd_tables):
    """P2 — feature flags produce typed nulls instead of the spliced
    columns (reference Main.java:218-233, GcdSchema.java:8-13)."""
    flags = GcdSchemaFlags(
        publication_type=False,
        volume_not_printed=False,
        series_is_singleton=False,
        story_first_line=False,
        story_credit=False,
    )
    df = build_snapshot(spark, gcd_tables, RUN_DATE, flags)
    assert [f.name for f in df.schema.fields] == [f.name for f in GCD_SNAPSHOT_SCHEMA.fields]
    agg = df.agg(
        F.count("series_publishing_type").alias("a"),
        F.count("volume_not_printed").alias("b"),
        F.count("series_is_singleton").alias("c"),
        F.count("story_first_line").alias("d"),
    ).first()
    assert tuple(agg) == (0, 0, 0, 0)
    # story_credit off -> every story row falls back to legacy source
    src = df.where(F.col("story_id").isNotNull()).select("story_credit_source").distinct().collect()
    assert [r[0] for r in src] == ["gcd_story"]


def test_partitioned_sink_and_table(spark, gcd_tables, tmp_path):
    """S5/S8 — snapshot=YYYYMMDD hive partition + registered table
    with partition pruning (reference Main.java:96-105,
    gcdissuesnapshot.sql:90-95)."""
    out = str(tmp_path / "snap")
    write_gcd_snapshot(spark, gcd_tables, RUN_DATE, out, table_name="gcd_snapshot_test")
    # a second nightly partition, so pruning has something to prune
    write_gcd_snapshot(spark, gcd_tables, "2024-01-16", out)
    import os

    assert os.path.isdir(f"{out}/snapshot=20240115")
    assert os.path.isdir(f"{out}/snapshot=20240116")
    n = spark.sql("SELECT count(*) FROM gcd_snapshot_test WHERE snapshot = 20240115").first()[0]
    assert n == build_snapshot(spark, gcd_tables, RUN_DATE).count()
    pruned = spark.sql("SELECT * FROM gcd_snapshot_test WHERE snapshot = 20240115")
    # the filter must prune at the FILE level, not post-scan: every
    # file the plan reads lives under the selected partition dir
    files = pruned.inputFiles()
    assert files and all("snapshot=20240115" in f for f in files)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_write_snapshot_rerun_replaces_its_partition(spark, tmp_path):
    """A nightly run twice leaves one copy of its night: the rerun
    replaces its own ``snapshot=`` partition and keeps the rows of a
    night written before it. The session's overwrite mode stays as it
    was, because the mode is a write option."""
    from gcd_etl_spark.sources.sinks import write_snapshot

    out = str(tmp_path / "snap_rerun")
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(mode_key)
    write_snapshot(spark.range(10), out, 20240114)
    for _ in range(2):
        write_snapshot(spark.range(1000), out, 20240115)
    counts = dict(spark.read.parquet(out).groupBy("snapshot").count().collect())
    assert counts == {20240114: 10, 20240115: 1000}
    assert spark.conf.get(mode_key) == mode
