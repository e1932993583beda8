"""Connected-components clustering semantics + the new SQL-surface
and term-table queries against their DuckDB oracles at sf0.001."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcd_etl_spark.operators import dedup as D
from gcd_etl_spark.plans import QUERIES
from tests.conftest import SF_SMOKE, assert_matches_oracle


def test_connected_components_semantics(spark):
    """Chain 1-2-3, pair 5-6, singletons 4 and 7: labels collapse to
    the min member id; transitivity crosses the 2-3 hop."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in D.connected_components(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_connected_components_long_chain(spark):
    """A 12-node path needs multiple propagation rounds; fixpoint must
    still collapse everything to label 1."""
    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in D.connected_components(pairs, nodes).collect()}
    assert set(out.values()) == {1}


def test_cluster_ids_are_members(spark):
    out = QUERIES["dedup_clusters"].build(spark, SF_SMOKE)
    bad = out.where(F.col("cluster_id") > F.col("doc_id")).count()
    assert bad == 0  # cluster id is the min member -> never above own id


def test_sql_surface_oracles(spark):
    for name in ("sql_q3_shipping_priority", "sql_q5_local_supplier", "sql_q14_promo_revenue"):
        q = QUERIES[name]
        assert_matches_oracle(q.build(spark, SF_SMOKE), q.oracle, SF_SMOKE, name)


def test_term_table_oracle(spark):
    q = QUERIES["term_table"]
    assert_matches_oracle(q.build(spark, SF_SMOKE), q.oracle, SF_SMOKE, q.name)

def test_scalar_json_and_grouping_sets_oracles(spark):
    for name in ("scalar_json", "agg_grouping_sets"):
        q = QUERIES[name]
        assert_matches_oracle(q.build(spark, SF_SMOKE), q.oracle, SF_SMOKE, name)


def test_stream_tumbling_parity_oracle(spark):
    q = QUERIES["stream_tumbling"]
    assert_matches_oracle(q.build(spark, SF_SMOKE), q.oracle, SF_SMOKE, q.name)
