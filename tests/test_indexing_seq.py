"""Batch-7 operator properties (plans/indexing.py, plans/sequential.py).

Differential parity vs the DuckDB oracles is covered for every
registered query by tests/test_parity.py; these tests pin the
SEMANTIC claims the docstrings make:

* prefix filtering loses no pairs (setjoin == quadratic anchor);
* CDC chunking is a partition of the document (lossless);
* delta-encoded postings decode back to strictly ascending positions;
* z-order strictly beats row-order file skipping;
* the EWMA window family reuses ONE exchange;
* BFS layers are disjoint and only reach hop-adjacent nodes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.plans.indexing import CDC_W
from gcd_etl_spark.sources.catalog import read_table


def test_setjoin_equals_quadratic_anchor(spark, sf_smoke):
    """AllPairs prefix filtering is exact: same pair set as the
    quadratic dedup_ngram_jaccard anchor (recall 1, precision 1)."""
    fast = {
        (r.id_a, r.id_b)
        for r in QUERIES["setjoin_prefix_exact"].build(spark, sf_smoke).collect()
    }
    anchor = {
        (r.id_a, r.id_b)
        for r in QUERIES["dedup_ngram_jaccard"].build(spark, sf_smoke).collect()
    }
    assert fast == anchor


def test_cdc_chunks_partition_document(spark, sf_smoke):
    """Chunking is a partition: chunks concatenate back to the exact
    document, for every document (so the dedup accounting weighs every
    char exactly once)."""
    docs = read_table(spark, sf_smoke, "documents").where(
        F.length("text") >= CDC_W
    )
    cuts = F.filter(
        F.sequence(F.lit(CDC_W), F.length("text")),
        lambda i: F.substring(
            F.md5(F.col("text").substr(i - (CDC_W - 1), F.lit(CDC_W))), 32, 1
        )
        == "0",
    )
    bs = F.concat(
        F.array(F.lit(0)),
        F.when(
            (F.size("cuts") == 0)
            | (F.element_at("cuts", -1) != F.length("text")),
            F.concat("cuts", F.array(F.length("text"))),
        ).otherwise(F.col("cuts")),
    )
    rebuilt = (
        docs.withColumn("cuts", cuts)
        .withColumn("bs", bs)
        .withColumn(
            "rebuilt",
            # bs is bound once as ``b``: indexed inside the per-chunk
            # lambda, the inlined bs would redo the O(len) md5 cut
            # scan once per chunk.
            F.expr(
                "transform(array(bs), b -> array_join(transform(sequence(1, size(b) - 1),"
                " j -> substr(text, b[j - 1] + 1, b[j] - b[j - 1])), ''))[0]"
            ),
        )
    )
    bad = rebuilt.where(F.col("rebuilt") != F.col("text")).count()
    assert bad == 0


def test_postings_decode_roundtrip(spark, sf_smoke):
    """Delta-encoded postings decode to tf strictly ascending
    positions per doc, and df == number of postings."""
    rows = QUERIES["index_postings_delta"].build(spark, sf_smoke).collect()
    assert rows, "postings index is empty at smoke scale"
    for r in rows[:50]:
        postings = r.postings.split(";")
        assert r.df == len(postings)
        tf = 0
        for p in postings:
            _doc, deltas = p.split(":")
            ds = [int(x) for x in deltas.split(",")]
            assert ds[0] >= 1 and all(d >= 1 for d in ds[1:]), (
                r.term,
                p,
            )  # strictly ascending positions
            tf += len(ds)
        assert tf == r.tf_total


def test_zorder_skips_more_files(spark, sf_correct):
    """The whole point: under the same 2-D box predicate the z-ordered
    layout scans strictly fewer files than row order (sf0.01: 2 of 4
    vs 4 of 4; sf0.1: 3 of 37 vs 37 of 37)."""
    got = {
        r.layout: (r.files_total, r.files_scanned)
        for r in QUERIES["layout_zorder_cluster"].build(spark, sf_correct).collect()
    }
    assert got["zorder"][0] == got["linear"][0]  # same file count
    assert got["zorder"][1] < got["linear"][1]


def test_ewma_single_exchange(spark, sf_smoke):
    """The 16 lags collapse into one window node and the latest-row
    filter reuses the SAME hash partitioning: exactly one exchange in
    the whole plan (plus the scan) — the shape that survives 100 TB."""
    import contextlib
    import io

    df = QUERIES["ts_ewma_exact"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_exchange = sum(
        1 for line in plan.splitlines() if "Exchange" in line and "(" in line
    )
    assert n_exchange <= 2, plan  # one shuffle + possibly AQE read


def test_bfs_layers_disjoint_and_adjacent(spark, sf_smoke):
    """Each BFS layer is disjoint from earlier ones and every dist-k
    node (k>=1) has an edge from some dist-(k-1) node."""
    from gcd_etl_spark.operators.graph import bfs_layers
    from gcd_etl_spark.plans.sequential import BFS_HOPS, BFS_SEED_MOD

    o = read_table(spark, sf_smoke, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    nodes = edges.select(F.col("src").alias("node_id")).distinct()
    seeds = nodes.where(F.expr(f"node_id % 2 = 0 AND (node_id div 2) % {BFS_SEED_MOD} = 0"))
    visited = bfs_layers(edges, seeds, hops=BFS_HOPS).collect()
    by_dist: dict[int, set] = {}
    for r in visited:
        by_dist.setdefault(r.dist, set()).add(r.node_id)
    all_ids = [r.node_id for r in visited]
    assert len(all_ids) == len(set(all_ids)), "layers overlap"
    adj: dict[int, set] = {}
    for r in edges.collect():
        adj.setdefault(r.src, set()).add(r.dst)
    for k in range(1, BFS_HOPS + 1):
        prev = by_dist.get(k - 1, set())
        for nid in by_dist.get(k, set()):
            assert any(nid in adj.get(p, ()) for p in prev), (k, nid)
