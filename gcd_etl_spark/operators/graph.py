"""Graph operators: fixed-budget PageRank over an edge DataFrame.

Complements the connected-components operator (operators/dedup.py's
hook-and-jump rounds): components give duplicate CLUSTERS, PageRank
gives node IMPORTANCE — the standard centrality signal a curation
pipeline uses to weight sources/documents linked by citation,
co-occurrence, or transaction edges.

Scale + determinism design:

* One shuffle per iteration, keyed on the destination node (the
  contribution aggregation); degrees are computed once and joined to
  the edge list up front. Fixed iteration count -> static job graph.
* ALL rank arithmetic happens in integer NANORANK units (BIGINT,
  1 rank = 1e9 nano): divisions are explicit round-half-up integer
  ops ((2a + b) div 2b), sums are exact, and 0.85·s is
  (85·s + 50) div 100. Floating point appears NOWHERE, so results
  are bit-identical across shuffle schedules AND engines — float
  ROUND was measured to diverge between Spark (decimal-string
  HALF_UP) and DuckDB (binary-double rounding) at exact-half points,
  which integer arithmetic eliminates by construction. This is what
  lets an iterative power method carry a full value-hash SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Damping factor as an integer percentage (0.85).
DAMPING_PCT = 85
#: One unit of rank mass = NANO nanorank (1e9).
NANO = 1_000_000_000


def pagerank(edges: DataFrame, iters: int = 2, src: str = "src", dst: str = "dst") -> DataFrame:
    """Fixed-budget PageRank: ``iters`` power-method steps from the
    uniform distribution over the edge list's node set, in exact
    integer nanorank units.

    ``edges`` must already contain every direction that should carry
    rank (pass both (u,v) and (v,u) for an undirected graph). Every
    node in the node set has out-edges by construction (the node set
    IS the union of edge endpoints), so there is no dangling-mass
    term. Returns (node_id, rank_nano BIGINT).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = e.select(F.col("src").alias("node_id")).union(
        e.select(F.col("dst").alias("node_id"))
    ).distinct()
    n = nodes.count()  # one tiny driver scalar, like the k-means k
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = e.join(deg, "src")

    # round-half-up integer division: (2a + b) div (2b), positives only
    teleport = (2 * (NANO - DAMPING_PCT * NANO // 100) + n) // (2 * n)
    r0 = (2 * NANO + n) // (2 * n)
    ranks = nodes.withColumn("rank_nano", F.lit(r0).cast("bigint"))
    for _ in range(iters):
        contrib = ew.join(ranks, ew.src == ranks.node_id).select(
            F.col("dst"),
            F.expr("(2 * rank_nano + outdeg) div (2 * outdeg)").alias("c"),
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, nodes.node_id == summed.dst, "left").select(
            "node_id",
            (
                F.lit(teleport).cast("bigint")
                + F.expr(f"({DAMPING_PCT} * coalesce(s, 0L) + 50) div 100")
            ).alias("rank_nano"),
        )
    return ranks


def bfs_layers(edges: DataFrame, seeds: DataFrame, hops: int,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Multi-source BFS, bounded depth: minimum hop distance (0..hops)
    from the seed set, for reached nodes only.

    One frontier-expansion join + one anti-join per hop — the
    Pregel-style iteration expressed as DataFrames. ``localCheckpoint``
    truncates the growing lineage exactly like the k-means/pagerank
    loops; the per-hop shuffle is keyed on node id only, and a fixed
    ``hops`` budget keeps the job graph static (and the SQL oracle
    unrollable). Returns (node_id, dist INT).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    frontier = seeds.select(F.col(seeds.columns[0]).alias("node_id")).distinct()
    visited = frontier.withColumn("dist", F.lit(0))
    for k in range(1, hops + 1):
        nxt = (
            e.join(frontier, e.src == frontier.node_id)
            .select(F.col("dst").alias("node_id"))
            .distinct()
            .join(visited.select("node_id"), "node_id", "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(nxt.withColumn("dist", F.lit(k)))
        frontier = nxt
    return visited
