"""Distributed k-means (Lloyd's) over an embedding column.

Not in the reference (no vector surface at all); part of the
training-data-pipeline extension family: corpus bucketing for
curriculum mixing, near-dup triage beyond pairwise similarity, and
the trained-coarse-quantizer step IVF search assumes
(operators/similarity.py samples its centroids; this learns them).

Scale design:

* Each Lloyd iteration is ONE Arrow-batched assignment pass (a numpy
  matmul per batch against the broadcast k x dim centroid matrix —
  same posture as the IVF/LSH bucketing UDFs) plus ONE aggregation
  for the centroid update. Nothing driver-side ever holds more than
  the k x dim matrix (the trained artifact — collecting it is the
  point, like the 16 IVF centroids).
* The centroid update sums per-component contributions as exact
  DECIMALs (components rounded to 9 dp first): decimal aggregation is
  associative, so the learned centroids are bit-reproducible across
  shuffle schedules and cluster sizes — the same determinism stance
  as functions/numeric.py takes for money math.
* Iteration count is a fixed small constant (the classic fixed-budget
  Lloyd refinement): no convergence-driven driver loop, so the job
  graph is static and the whole fit is `iters + 1` passes over the
  data.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcd_etl_spark.session import python_task

#: Quantization applied to per-component contributions before the
#: exact-decimal centroid sum (9 dp ~ float32's own precision).
_COMP_SCALE = 9


def _assign_batches(centroids: np.ndarray, id_col: str, vec_col: str):
    """mapInPandas worker: nearest centroid + squared distance per
    row, one matmul per Arrow batch."""
    c = np.ascontiguousarray(centroids, dtype=np.float64)  # k x dim
    c_sq = (c * c).sum(axis=1)  # k

    @python_task
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            x_sq = (x * x).sum(axis=1)
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2, argmin over c
            d2 = x_sq[:, None] - 2.0 * (x @ c.T) + c_sq[None, :]
            np.maximum(d2, 0.0, out=d2)
            cluster = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cluster": cluster.astype("int32"),
                    "sqdist": d2[np.arange(len(pdf)), cluster],
                }
            )

    return fn


def assign_clusters(
    df: DataFrame, centroids: np.ndarray, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid assignment: (id, vec, cluster, sqdist)."""
    schema = (
        f"{id_col} long, {vec_col} array<float>, cluster int, sqdist double"
    )
    return df.select(id_col, vec_col).mapInPandas(
        _assign_batches(centroids, id_col, vec_col), schema=schema
    )


def _update_centroids(
    assigned: DataFrame, k: int, dim: int, vec_col: str
) -> tuple[np.ndarray, float]:
    """New centroid matrix AND iteration inertia from an assignment:
    exact-decimal per-component sums (shuffle-order-independent), ONE
    shuffle keyed on (cluster, component). Empty clusters keep a zero
    vector (the quality gate flags them; with lowest-id init over
    real data they do not occur).

    The inertia rides in the SAME aggregation (round 13, guide §1.2):
    each row's 6-dp-rounded sqdist is attached to its pos==0 exploded
    slot only (exactly one slot per row), so the per-group decimal
    sums add up — driver-side, still as exact decimals — to the
    identical global decimal sum the previous separate
    sum-over-assignment job produced (decimal addition is
    associative). That separate job, and the eager localCheckpoint
    that existed only so the two consumers would not re-run the
    assignment matmul, are both gone: one pass per Lloyd iteration."""
    from decimal import Decimal

    comp = assigned.select(
        "cluster",
        F.posexplode(vec_col).alias("pos", "comp"),
        F.round(F.col("sqdist"), 6).cast("decimal(28,6)").alias("sq_all"),
    ).select(
        "cluster",
        "pos",
        F.round(F.col("comp").cast("double"), _COMP_SCALE)
        .cast(f"decimal(28,{_COMP_SCALE})")
        .alias("comp"),
        F.when(F.col("pos") == 0, F.col("sq_all")).alias("sq"),
    )
    rows = (
        comp.groupBy("cluster", "pos")
        .agg(
            F.sum("comp").alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.sum("sq").alias("sq"),
        )
        .collect()
    )
    cent = np.zeros((k, dim), dtype=np.float64)
    inertia = Decimal(0)
    for r in rows:
        cent[r["cluster"], r["pos"]] = float(r["s"]) / r["n"]
        if r["sq"] is not None:
            inertia += r["sq"]
    return cent, float(inertia)


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    init_rows: list | None = None,
) -> tuple[DataFrame, np.ndarray, list[float]]:
    """Fixed-budget Lloyd's: returns (final assignment DataFrame,
    learned k x dim centroids, per-iteration inertia history).

    Init = the k lowest-id vectors (deterministic, like the IVF
    sample); ``init_rows`` lets a caller that already holds those rows
    (e.g. the PQ training sample, whose head IS the k lowest-id rows)
    skip the init collect job. Inertia is summed as exact decimals of
    the 6-dp-rounded squared distances, so the history — and the
    monotone-descent property the quality gate asserts — is
    reproducible bit-for-bit.
    """
    if init_rows is None:
        init_rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    else:
        init_rows = init_rows[:k]
    cent = np.asarray([r[vec_col] for r in init_rows], dtype=np.float64)
    history: list[float] = []
    for _ in range(iters):
        # ONE job per iteration (round 13): the centroid update and
        # the inertia ride the same aggregation over the assignment
        # pass — see _update_centroids. (Previously: an eager
        # localCheckpoint of the assignment + a separate inertia
        # job + the update job = 3 jobs per iteration.)
        assigned = assign_clusters(df, cent, id_col, vec_col)
        cent, inertia = _update_centroids(assigned, k, cent.shape[1], vec_col)
        history.append(inertia)
    # final re-assignment against the learned centroids
    assigned = assign_clusters(df, cent, id_col, vec_col)
    return assigned, cent, history
