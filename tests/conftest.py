"""Shared fixtures: one SparkSession per test session, sf dirs, and
the DuckDB differential-compare harness that mirrors the driver's
correctness gate (row-count + schema + order-insensitive values)."""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcd_etl_spark.session import get_spark  # noqa: E402
from gcd_etl_spark.sources.catalog import TABLES  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gcd_etl_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf in (SF_SMOKE, SF_CORRECT):
        tag = sf.rsplit("sf", 1)[1].replace(".", "_")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t}_sf{tag} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
    yield con
    con.close()


_JOB_GROUPS = itertools.count()


@contextlib.contextmanager
def spark_jobs(spark):
    """Count the Spark jobs started inside the block, by job group;
    yields a one-element list that holds the count after the block."""
    sc = spark.sparkContext
    group = f"test-job-count-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, group, False)
    count = [0]
    try:
        yield count
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        count[0] = len(sc.statusTracker().getJobIdsForGroup(group))


def oracle_con(sf_dir: str):
    """Fresh DuckDB connection with the plain table names viewing one
    sf dir — matches how the driver registers views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 vs 0.0 and tiny representation noise
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    if v is None:
        return "NULL"
    return str(v)


def normalized_rows(cols, rows):
    """Column-name-sorted, row-order-insensitive canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in order))
    return sorted(out)


def assert_matches_oracle(spark_df, sql: str, sf_dir: str, name: str = "query"):
    """Differential check: Spark result == DuckDB result, modulo row
    order and column order (column-name keyed, like the driver)."""
    con = oracle_con(sf_dir)
    try:
        assert_df_matches_con(spark_df, con, sql, name)
    finally:
        con.close()


def _duck_kind(type_str: str) -> str:
    """Coarse hash-family of a DuckDB column type (DESCRIBE string).
    The driver hashes typed serializations, so a DuckDB HUGEINT
    hash-diverges from a Spark BIGINT even when the values are equal —
    the round-4/5 red root cause our stringifying comparator could not
    see."""
    t = type_str.upper()
    if t in ("HUGEINT", "UHUGEINT", "UBIGINT"):
        return "wide"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER"):
        return "int"
    if t.startswith("DECIMAL"):
        prec, scale = (int(x) for x in t.split("(")[1].rstrip(")").split(","))
        return "wide" if (prec > 18 and scale == 0) else "decimal"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    return "other"


def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, T.DecimalType):
        return "wide" if (dt.precision > 18 and dt.scale == 0) else "decimal"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    return "other"


def _assert_hash_kinds_compatible(spark_df, described, name: str):
    """Fail on the type-family drifts known to break the driver's
    value hash while passing a string-normalized compare: oracle-side
    widening past 64-bit ints, and int-vs-float column mixes.
    ``described`` is the oracle's DESCRIBE rows."""
    s_kinds = {f.name: _spark_kind(f.dataType) for f in spark_df.schema.fields}
    bad = []
    for col, typ, *_ in described:
        dk = _duck_kind(str(typ))
        sk = s_kinds.get(col)
        if sk is None:
            continue  # column-set mismatch reported elsewhere
        if dk == sk:
            continue
        if "wide" in (dk, sk) or {dk, sk} == {"int", "float"}:
            bad.append((col, f"duck={typ}", f"spark_kind={sk}"))
    assert not bad, (
        f"{name}: oracle/Spark column types hash-diverge at the driver "
        f"even if values match: {bad}"
    )


def _run_oracle(con, sql: str):
    """(DESCRIBE rows, column names, rows) of one oracle query.

    The query runs ONCE, into a temp table: DESCRIBE of the table
    reports the query's exact output types, and the rows are read back
    from it. Binding alone takes ~30 s for the widest oracles, so
    DESCRIBE-then-execute would pay it twice. A query a table cannot
    hold (duplicate column names) falls back to the two-pass form."""
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle_result AS {sql}")
    except duckdb.Error:
        described = con.execute(f"DESCRIBE {sql}").fetchall()
        oracle = con.execute(sql)
        return described, [d[0] for d in oracle.description], oracle.fetchall()
    try:
        described = con.execute("DESCRIBE __oracle_result").fetchall()
        oracle = con.execute("SELECT * FROM __oracle_result")
        return described, [d[0] for d in oracle.description], oracle.fetchall()
    finally:
        con.execute("DROP TABLE __oracle_result")


def assert_df_matches_con(spark_df, con, sql: str, name: str = "query"):
    """Same differential check against an already-prepared DuckDB
    connection (used by the GCD golden test, whose views aren't the
    fixture tables)."""
    described, o_cols, o_rows = _run_oracle(con, sql)
    _assert_hash_kinds_compatible(spark_df, described, name)

    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(s_cols) == sorted(o_cols), (
        f"{name}: column sets differ\n spark={sorted(s_cols)}\n duck ={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"{name}: row counts differ: spark={len(s_rows)} duck={len(o_rows)}"
    )
    sn = normalized_rows(s_cols, s_rows)
    on = normalized_rows(o_cols, o_rows)
    if sn != on:
        diffs = [(a, b) for a, b in zip(sn, on) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs:\n" + "\n".join(map(str, diffs)))
