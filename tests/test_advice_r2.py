"""Round-2 regression tests for the advisor's findings (ADVICE.md r1):
asof must carry the MATCHED right row's NULLs (not older non-nulls),
range-join 'left' must null-extend unmatched intervals exactly once,
and connected_components must fail loudly on non-convergence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcd_etl_spark.operators import dedup as D
from gcd_etl_spark.operators.asof import asof_join
from gcd_etl_spark.operators.rangejoin import point_in_interval_join


def test_asof_preserves_matched_row_nulls(spark):
    """The latest right row at t=20 has a NULL payload; DuckDB ASOF
    semantics return THAT null, not the stale t=10 value."""
    left = spark.createDataFrame([(1, 25), (1, 15), (2, 5)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, None)], "k long, ts long, v string"
    )
    out = {
        r["ts"]: (r["asof_ts"], r["v"])
        for r in asof_join(left, right, key="k", ts="ts").collect()
    }
    assert out[25] == (20, None)  # matched t=20, its NULL survives
    assert out[15] == (10, "old")
    assert out[5] == (None, None)  # no prior right row at all


def test_asof_tolerance_nulls_whole_match(spark):
    left = spark.createDataFrame([(1, 100)], "k long, ts long")
    right = spark.createDataFrame([(1, 10, 7.5)], "k long, ts long, v double")
    row = asof_join(left, right, key="k", ts="ts", tolerance_sec=30).collect()[0]
    assert row["asof_ts"] is None and row["v"] is None


def test_range_join_left_null_extends_once(spark):
    """Interval spanning many bins with no point: exactly ONE
    null-extended row (not one per bin); matched intervals never
    resurface null-extended."""
    intervals = spark.createDataFrame(
        [(1, "a", 0, 7200), (2, "a", 10000, 20000)],
        "iid long, k string, s long, e long",
    )
    points = spark.createDataFrame([(9, "a", 3600)], "pid long, k string, t long")
    out = point_in_interval_join(
        intervals, points, key="k", start="s", end="e", ts="t",
        bin_width_sec=600, how="left",
    )
    rows = {(r["iid"], r["pid"]) for r in out.collect()}
    assert rows == {(1, 9), (2, None)}
    assert out.count() == 2


def test_range_join_rejects_unimplementable_how(spark):
    df = spark.createDataFrame([(1, "a", 0, 1)], "iid long, k string, s long, e long")
    pts = spark.createDataFrame([(1, "a", 0)], "pid long, k string, t long")
    with pytest.raises(ValueError, match="how"):
        point_in_interval_join(df, pts, key="k", start="s", end="e", ts="t", how="outer")


def test_connected_components_raises_on_non_convergence(spark):
    """A 6-node path cannot converge in 1 round — partial labels must
    raise, not return silently."""
    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, n)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        D.connected_components(pairs, nodes, max_iter=1)


def test_date_str_to_int_rejects_trailing_newline(spark):
    from gcd_etl_spark.functions.scalar import date_str_to_int

    df = spark.createDataFrame(
        [("1987-03-01",), ("1987-03-01\n",), ("1987-03-01\r",)], "v string"
    )
    got = [r[0] for r in df.select(F.expr(date_str_to_int("v", sentinel=-1))).collect()]
    assert got == [19870301, -1, -1]
