"""Similarity search over embedding columns (``array<float>``).

* ``brute_force_topk`` — exact cosine top-k of every query row against
  the full corpus: broadcast the (small) query set, score corpus-side
  with JVM expressions, per-query top-k via window. The correctness
  baseline and the right plan when queries are few.
* ``lsh_topk`` — sign-random-projection (SRP) bucketed ANN: corpus and
  queries hash to ``n_planes``-bit buckets; only same-bucket (and
  optionally neighboring-probe) pairs are scored. Sub-linear scoring
  cost at 100 TB; recall tunable by planes/probes.
* ``ivf_topk`` — IVF-style coarse quantizer: k-means-ish centroids
  sampled deterministically, corpus assigned to nearest centroid
  (broadcast centroids), queries scored only against their ``nprobe``
  nearest cells. The classic billion-vector layout.

Query-path plans keep vectors in executor space — only tiny trained
artifacts (IVF centroids) or an explicitly-bounded corpus matrix
(``neardup_pairs_blas``) ever pass through the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcd_etl_spark.functions.vector import cosine, cosine_fixed, random_hyperplane_signs
from gcd_etl_spark.session import python_task


def _cos(a: str, b: str, dim: int | None):
    """cosine_fixed (flat codegen) when the dimension is known,
    else the generic fold."""
    return cosine_fixed(a, b, dim) if dim else cosine(a, b)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    # Rank on the ROUNDED cosine (6 dp) with id tie-break: last-ulp FP
    # noise must never reorder neighbors across engines or runs.
    scored = scored.withColumn("cosine", F.round("cosine", 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus
    is scanned once, scoring stays in whole-stage codegen, and the
    per-query top-k heap is a window over (query_id).
    Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("corpus_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos("query_vec", "corpus_vec", dim).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def srp_bucket(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Pack sign-random-projection bits into one long bucket id."""
    bits = random_hyperplane_signs(vec_col, planes)
    packed = F.lit(0).cast("long")
    for i in range(len(planes)):
        packed = packed.bitwiseOR(
            F.when(F.element_at(bits, i + 1) == 1, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return packed


def srp_buckets_udf(planes: list[list[float]], n_tables: int):
    """Pandas-UDF: all ``n_tables`` SRP bucket ids per vector in one
    NumPy matmul (vectors x all planes), Arrow-batched.

    Bit/bucket layout is identical to ``srp_bucket`` over
    ``planes[t*b:(t+1)*b]`` — but computing 32 projections as one
    BLAS matmul per batch beats 32 per-row JVM expressions by ~10x,
    and keeps the expression tree small (a 2048-term unrolled
    projection expression measurably chokes the optimizer when it is
    duplicated across bucket structs).
    """
    P = np.asarray(planes, dtype=np.float64)
    bits_per = len(planes) // n_tables
    weights = 1 << np.arange(bits_per, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    @python_task
    def _buckets(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray(embs.tolist(), dtype=np.float64)
        signs = (mat @ P.T) >= 0
        cols = [signs[:, t * bits_per : (t + 1) * bits_per] @ weights for t in range(n_tables)]
        return pd.Series(list(np.stack(cols, axis=1)))

    return _buckets


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, no numpy
    RNG state) so Spark plans and oracles can share them as literals."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to [-1, 1)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    n_tables: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Multi-table SRP-LSH ANN top-k (OR-amplification).

    ``planes`` is split into ``n_tables`` hash tables of
    ``len(planes)/n_tables`` bits each; a corpus row is scored for a
    query iff they share a bucket in ANY table. Recall for neighbors
    at angle θ: 1 - (1 - (1-θ/π)^b)^L — tune b (selectivity) against
    L (recall). At scale the corpus's (table, bucket) index is written
    once and reused; the shuffle key is the bucket, never the vector.
    """
    buckets_udf = srp_buckets_udf(planes, n_tables)

    def with_buckets(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            F.posexplode(buckets_udf(F.col(vec_col))).alias("table_idx", "bucket"),
        )

    c = with_buckets(corpus, "neighbor_id", "corpus_vec")
    q = with_buckets(queries, "query_id", "query_vec")
    # A pair may collide in several tables. Score every collision in
    # the join stage (cheap codegen'd arithmetic, no data movement)
    # and dedup on the (id, id, score) triple afterwards — shuffling
    # 16 bytes of ids per candidate instead of two full vectors.
    scored = (
        c.join(F.broadcast(q), on=["table_idx", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cos("query_vec", "corpus_vec", dim).alias("cosine"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _rank_topk(scored, k)


#: Width rule for the IVF coarse quantizer (round-13 verdict item 1 —
#: the ``suggest_bucket_count`` / SRP-width-rule pattern applied to
#: the last fixed-width constant). A FIXED 16-cell quantizer holds the
#: probed corpus FRACTION constant but lets per-cell occupancy — and,
#: for PQ, the residual radius — grow linearly with the corpus:
#: measured end-to-end IVF-PQ recall@10 slides 0.42 (sf0.1) -> 0.24
#: (8x) -> 0.16 (32x), through the 0.3 floor. n_cells ~ sqrt(n) (the
#: classic FAISS sizing) with nprobe a fixed fraction of it holds
#: per-cell occupancy ~sqrt(n) and keeps shrinking the PQ residuals:
#: measured 0.58 / 0.60 / 0.62 / 0.64 at 1x/4x/8x/32x sf0.1 (floor
#: 0.3, rule c4 — see BASELINE.md round-13 table). Power of two so a
#: re-staged 4x corpus doubles predictably, like bucket counts.
IVF_CELLS_FLOOR = 16
#: Past this, a flat driver-held centroid matrix is the wrong layout
#: (4096 x 64 fp64 = 2 MiB — still broadcastable; beyond it train a
#: hierarchical quantizer instead).
IVF_CELLS_MAX = 4096
IVF_NPROBE_FRACTION = 4
IVF_NPROBE_FLOOR = 4


def suggest_ivf_cells(n_rows: int, floor: int = IVF_CELLS_FLOOR) -> int:
    """Coarse-quantizer cell count for an ``n_rows`` corpus: next
    power of two of sqrt(n), clamped to [floor, IVF_CELLS_MAX]. The
    floor keeps sub-floor fixtures (unit tests, sf<=0.01: 500 vectors
    -> 32) on small stable configs."""
    n = max(1, int(n_rows))
    target = int(n ** 0.5)
    p = 1
    while p < target:
        p *= 2
    return max(floor, min(p, IVF_CELLS_MAX))


def suggest_ivf_nprobe(
    n_cells: int,
    fraction: int = IVF_NPROBE_FRACTION,
    floor: int = IVF_NPROBE_FLOOR,
) -> int:
    """Probe count scaled WITH the cell count (fixed probed fraction
    of cells — 1/4 for the ANN family, 1/2 for the bitext miner whose
    gate needs recall@1). Derive it from the STAGED index's actual
    centroid count (``len(centroids)``) so probe-time config always
    matches what the index was built with."""
    return max(floor, int(n_cells) // fraction)


def ivf_cells_udf(centroids: np.ndarray, n_keep: int):
    """Pandas-UDF: the ``n_keep`` nearest centroid indices per vector.

    Centroids are L2-normalized once at closure build, so per-row
    cosine argmax reduces to one BLAS matmul against the unit
    centroids (the row's own norm is constant across cells and cannot
    change the ranking). One Arrow batch of N vectors costs a single
    (N x dim) @ (dim x n_cells) product — no per-row JVM expression
    tree, no row blowup, no shuffle.
    """
    C = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(C, axis=1)
    norms[norms == 0] = 1.0
    Cn = (C / norms[:, None]).T  # dim x n_cells

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    @python_task
    def _cells(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray(embs.tolist(), dtype=np.float64)
        sims = mat @ Cn
        # argsort descending, stable; slice the n_keep nearest cells
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_keep].astype(np.int32)
        return pd.Series(list(order))

    return _cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int | None = None,
    nprobe: int | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF coarse-quantized ANN.

    Centroids = deterministic corpus sample (every id ≡ 0 mod step,
    lowest ids first) — tiny, so they live driver-side like any
    trained coarse quantizer and ship to executors inside the UDF
    closure. Corpus rows attach to their single nearest cell and
    queries fan out to their ``nprobe`` nearest cells in one
    Arrow-batched matmul each; the only shuffle key is the cell id.
    A (query, corpus) pair meets in at most one cell (the corpus
    row's), so candidate scoring needs no dedup.

    ``n_cells`` / ``nprobe`` default to the corpus-size width rule
    (suggest_ivf_cells / suggest_ivf_nprobe — round-13: the fixed
    16/4 config degraded through the recall floor at 8x).
    """
    n_rows = corpus.count()
    if n_cells is None:
        n_cells = suggest_ivf_cells(n_rows)
    if nprobe is None:
        nprobe = suggest_ivf_nprobe(n_cells)
    # Sample stride derives from the CORPUS size, not a fixed pool:
    # the old ``1000 // n_cells`` collapsed to stride 1 once the
    # width rule pushed n_cells past 1000 (and covered only the
    # lowest 1000 ids below that), making the quantizer an id-prefix
    # sample — id-correlated corpora (amplified copies are id-offset
    # blocks) would then funnel most rows into few cells (round-13
    # review finding).
    cent_rows = (
        corpus.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
        .where(F.col("cent_id") % F.lit(max(1, n_rows // n_cells)) == 0)
        .orderBy("cent_id")
        .limit(n_cells)
        .collect()
    )
    centroids = np.asarray([r["cent_vec"] for r in cent_rows], dtype=np.float64)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("corpus_vec"),
        F.element_at(ivf_cells_udf(centroids, 1)(F.col(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(ivf_cells_udf(centroids, nprobe)(F.col(vec_col))).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cos("query_vec", "corpus_vec", dim).alias("cosine"))
    )
    return _rank_topk(scored, k)


#: neardup_pairs_blas refuses corpora whose fp64 matrix would exceed
#: this many bytes (default 4 GiB — ~0.7M x 768 fp64, or ~1.4M with a
#: fp32 downcast upstream). Beyond it, LSH/IVF are the scale path.
NEARDUP_BLAS_MAX_BYTES = 4 << 30


def neardup_pairs_blas(
    corpus: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bytes: int = NEARDUP_BLAS_MAX_BYTES,
) -> DataFrame:
    """All-pairs cosine near-duplicates, block-vectorized.

    The expression-tree anchor (plans/similarity.py
    ``sim_embedding_neardup``) scores pairs one JVM expression at a
    time; this path ships the L2-normalized corpus matrix to executors
    as a TorrentBroadcast (one copy per executor, BitTorrent-style
    distribution — NOT per-task closure serialization) and lets each
    task score its partition's block with ONE BLAS matmul against it —
    O(n^2/p) work per task, no shuffle at all, ~15x faster at sf0.1.
    The documented memory bound is asserted at runtime: corpora whose
    matrix exceeds ``max_bytes`` are refused with a pointer to the
    LSH/IVF operators. Emits (id_a, id_b, cosine) with id_a < id_b.
    """
    n, dim = corpus.count(), len(corpus.select(vec_col).first()[0])
    est_bytes = n * dim * 8  # fp64 matrix
    if est_bytes > max_bytes:
        raise ValueError(
            f"neardup_pairs_blas corpus matrix ~{est_bytes >> 20} MiB "
            f"({n} x {dim} fp64) exceeds the {max_bytes >> 20} MiB bound; "
            f"use lsh_topk/ivf_topk (bucketed, no resident matrix) at this scale"
        )
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    M = np.asarray([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    Mn = M / norms[:, None]
    order = np.argsort(ids)
    bc = corpus.sparkSession.sparkContext.broadcast((ids[order], Mn[order]))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    @python_task
    def score_blocks(batches):
        ids_sorted, Mn_sorted = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            bids = pdf[id_col].to_numpy(dtype=np.int64)
            B = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            bn = np.linalg.norm(B, axis=1)
            bn[bn == 0] = 1.0
            S = (B / bn[:, None]) @ Mn_sorted.T
            # keep strictly-upper pairs (block id < corpus id) so each
            # unordered pair is emitted exactly once across all tasks;
            # threshold the ROUNDED cosine like the expression anchor,
            # so boundary pairs never hinge on BLAS-vs-codegen ulps
            hit_r, hit_c = np.nonzero(
                (np.round(S, 6) >= threshold) & (bids[:, None] < ids_sorted[None, :])
            )
            if len(hit_r):
                yield pd.DataFrame(
                    {
                        "id_a": bids[hit_r],
                        "id_b": ids_sorted[hit_c],
                        "cosine": np.round(S[hit_r, hit_c], 6),
                    }
                )

    return corpus.select(id_col, vec_col).mapInPandas(score_blocks, out_schema)


# --------------------------------------------------------------------
# Trained coarse quantizer + true product quantization (IVF-PQ)
# --------------------------------------------------------------------

class TrainSample(list):
    """Collected (id, vec) rows plus the ``n_take`` they were collected
    with. A short list alone cannot distinguish "small corpus" from
    "caller under-requested"; carrying the request size lets the
    consumers guard the documented bit-identical contract without a
    redundant re-collect on legitimately small corpora (ADVICE r13)."""

    n_requested: int = 0


def train_sample(
    corpus: DataFrame,
    n_take: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> TrainSample:
    """ONE bounded collect of the ``n_take`` lowest-id (id, vec) rows,
    shared by the coarse-quantizer init and the PQ codebook sample
    (round 13: the train path previously ran an emptiness probe, a
    k-row init collect, and a 4096-row PQ collect as THREE separate
    full-scan jobs over the same corpus — guide §1.2). Bounded by
    construction: n_take = max(PQ_TRAIN_SAMPLE, width-ruled n_cells),
    both O(sqrt(corpus)) or constant."""
    out = TrainSample(
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_take).collect()
    )
    out.n_requested = n_take
    return out


def _sample_covers(sample_rows: list, needed: int) -> bool:
    """True when ``sample_rows`` is guaranteed to contain the same
    lowest-id head a fresh ``train_sample(corpus, needed)`` would
    return: either it already holds >= needed rows, or it was
    collected with a request >= needed (so a shorter result means the
    corpus itself is that small). An untagged short list fails the
    check and triggers a fresh collect — the guard for a future caller
    passing an undersized hand-built sample (ADVICE r13)."""
    return (
        len(sample_rows) >= needed
        or getattr(sample_rows, "n_requested", 0) >= needed
    )


def train_coarse_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    sample_rows: list | None = None,
) -> np.ndarray:
    """Lloyd-TRAINED coarse quantizer for the IVF family (round-9
    verdict item 4: the ``vec_id % 62`` modulo sample was not a
    trained quantizer, and selected ZERO centroids on small corpora
    whose ids contain no multiple of 62 — round-10 ADVICE).

    Runs the same distributed fixed-budget Lloyd's as
    ``cluster_kmeans_quality`` (operators/clustering.kmeans_fit:
    Arrow-batched assignment matmuls, exact-decimal centroid sums, so
    the learned matrix is bit-reproducible across shuffle schedules).
    Deterministic lowest-id init means a non-empty corpus ALWAYS
    yields at least one real centroid. Returns a (<=n_cells, dim)
    float64 matrix; (0, dim) for an empty corpus.

    ``sample_rows`` (round 13): a caller that already collected the
    lowest-id rows (``train_sample``, shared with the PQ codebook
    sample) passes them here; init takes its head, and the previous
    standalone emptiness-probe job and init collect job both fold
    into that one collect. Values are bit-identical: the init rows
    are the same k lowest-id vectors either way.
    """
    from gcd_etl_spark.operators.clustering import kmeans_fit

    if sample_rows is None or not _sample_covers(sample_rows, n_cells):
        sample_rows = train_sample(corpus, n_cells, id_col, vec_col)
    if not sample_rows:
        return np.zeros((0, dim), dtype=np.float64)
    _, cent, _ = kmeans_fit(
        corpus,
        k=n_cells,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        init_rows=sample_rows,
    )
    return cent


#: PQ geometry: dim 64 -> PQ_M subspaces of dim/PQ_M components, each
#: quantized to one of PQ_KS codebook entries (8 bits) -> 8 bytes per
#: vector, a 32x compression of the float32 corpus. Codebooks train
#: on a bounded deterministic sample (the FAISS posture — training is
#: O(sample), ENCODING is the distributed part).
PQ_M = 8
PQ_KS = 256
PQ_TRAIN_ITERS = 4
PQ_TRAIN_SAMPLE = 4096


def _lloyd_numpy(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic driver-side Lloyd on a training sample: init =
    first k DISTINCT rows (sample arrives sorted by id), fixed
    iteration budget, argmin ties -> lowest index. Empty clusters
    keep their previous centroid."""
    seen: dict[bytes, np.ndarray] = {}
    for row in X:
        key = row.tobytes()
        if key not in seen:
            seen[key] = row
        if len(seen) == k:
            break
    if not seen:
        return np.zeros((0, X.shape[1] if X.ndim == 2 else 0), dtype=np.float64)
    C = np.stack(list(seen.values())).astype(np.float64)
    for _ in range(iters):
        d2 = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        a = d2.argmin(axis=1)
        for j in range(C.shape[0]):
            sel = X[a == j]
            if len(sel):
                C[j] = sel.mean(axis=0)
    return C


def _coarse_assign(X: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Cell per row by cosine against the coarse centroids — the SAME
    routing rule ivf_cells_udf applies, so encode-time assignment and
    probe-time query fan-out agree."""
    C = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(C, axis=1)
    norms[norms == 0] = 1.0
    Cn = (C / norms[:, None]).T
    return np.asarray(X @ Cn).argmax(axis=1).astype(np.int32)


def pq_train_codebooks(
    corpus: DataFrame,
    centroids: np.ndarray,
    m: int = PQ_M,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: list | None = None,
) -> np.ndarray:
    """Train per-subspace PQ codebooks on coarse-assignment RESIDUALS
    (classic IVF-PQ: encode r = x - c_cell, shared codebooks across
    cells). Training sample = the PQ_TRAIN_SAMPLE lowest-id vectors
    (deterministic; a bounded driver-side collect by design — at
    100 TB you train the codebooks on a sample and let the cluster do
    the encoding). ``sample_rows`` (round 13) reuses a caller-held
    ``train_sample`` collect (>= PQ_TRAIN_SAMPLE rows requested) so
    the coarse-quantizer init and this sample cost ONE job; the head
    slice is the identical lowest-id row set. Returns (m, ks', dsub)
    float64 with ks' = min(ks, distinct residuals); ks'>=1 for
    non-empty input.
    """
    if sample_rows is None or not _sample_covers(sample_rows, PQ_TRAIN_SAMPLE):
        sample_rows = train_sample(corpus, PQ_TRAIN_SAMPLE, id_col, vec_col)
    rows = sample_rows[:PQ_TRAIN_SAMPLE]
    if not rows or centroids.size == 0:
        dim = centroids.shape[1] if centroids.ndim == 2 else 0
        return np.zeros((m, 0, max(dim // m, 1)), dtype=np.float64)
    X = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    cells = _coarse_assign(X, centroids)
    R = X - np.asarray(centroids, dtype=np.float64)[cells]
    dim = X.shape[1]
    dsub = dim // m
    books = []
    for i in range(m):
        sub = np.ascontiguousarray(R[:, i * dsub : (i + 1) * dsub])
        books.append(_lloyd_numpy(sub, ks, PQ_TRAIN_ITERS))
    ks_eff = min(b.shape[0] for b in books)
    return np.stack([b[:ks_eff] for b in books])


def pq_encode(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed PQ encoding: one Arrow batch = one coarse-assign
    matmul + m residual-codebook matmuls. Output is the whole index
    payload — (neighbor_id, cell, codes array<int>) — 8 small ints
    per vector instead of 64 floats; the corpus vectors themselves
    never leave this map."""
    C = np.asarray(centroids, dtype=np.float64)
    CB = np.asarray(codebooks, dtype=np.float64)  # m x ks x dsub
    m, _, dsub = CB.shape

    @python_task
    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            cells = _coarse_assign(X, C)
            R = X - C[cells]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for i in range(m):
                sub = R[:, i * dsub : (i + 1) * dsub]
                B = CB[i]
                d2 = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * (sub @ B.T)
                    + (B * B).sum(axis=1)[None, :]
                )
                codes[:, i] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "cell": cells,
                    "codes": list(codes),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        encode, schema="neighbor_id long, cell int, codes array<int>"
    )


def pq_adc_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) scoring of PQ codes — the full-
    precision query against the IMPLICIT reconstruction c_cell + r̂,
    never materializing x̂:

        dot(q, x̂)  = (q . c_cell) + SUM_m LUT_q[m, code_m]
        ||x̂||^2    = ||c_cell||^2 + 2 SUM_m (c_cell_m . cb_m[code])
                                   + SUM_m ||cb_m[code]||^2

    The query-independent tables (cell norms, cell-x-codebook cross
    dots, codebook norms) are precomputed once at closure build; per
    Arrow batch each distinct query contributes ONE (m x ks) LUT
    matmul, then every candidate is a pure table-gather — the
    classic PQ scan. Join fan-out is the cell id (a corpus row meets
    a query in at most one cell), shuffled exactly like ivf_topk.
    """
    C = np.asarray(centroids, dtype=np.float64)
    CB = np.asarray(codebooks, dtype=np.float64)
    m, ks, dsub = CB.shape
    cc = (C * C).sum(axis=1)  # n_cells
    rr = (CB * CB).sum(axis=2)  # m x ks
    # cr[cell, i, code] = C[cell, sub_i] . CB[i, code]
    Csub = C.reshape(C.shape[0], m, dsub)
    cr = np.einsum("cmd,mkd->cmk", Csub, CB)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(ivf_cells_udf(C, nprobe)(F.col(vec_col))).alias("cell"),
    )
    cand = index.join(F.broadcast(q), on="cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )

    @python_task
    def score(batches):
        marange = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.asarray(pdf["codes"].tolist(), dtype=np.int64)
            # ||x̂||^2 per candidate: pure gathers
            xn2 = (
                cc[cells]
                + 2.0 * cr[cells[:, None], marange[None, :], codes].sum(axis=1)
                + rr[marange[None, :], codes].sum(axis=1)
            )
            np.maximum(xn2, 0.0, out=xn2)
            dots = np.empty(len(pdf), dtype=np.float64)
            qn = np.empty(len(pdf), dtype=np.float64)
            for qid in pd.unique(pdf["query_id"]):
                sel = (pdf["query_id"] == qid).to_numpy()
                qv = np.asarray(
                    pdf["query_vec"][sel].iloc[0], dtype=np.float64
                )
                lut = np.einsum("md,mkd->mk", qv.reshape(m, dsub), CB)
                qc = C @ qv
                dots[sel] = qc[cells[sel]] + lut[
                    marange[None, :], codes[sel]
                ].sum(axis=1)
                qn[sel] = np.sqrt(qv @ qv)
            denom = qn * np.sqrt(xn2)
            ok = denom > 0
            cos = np.zeros(len(pdf))
            cos[ok] = dots[ok] / denom[ok]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cosine": np.round(cos, 6),
                }
            )

    scored = cand.mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(scored, k)
