"""Similarity-search query plans over the ``embeddings`` table.

Brute-force cosine top-k (exact baseline, DuckDB-oracled) plus the
ANN scale paths grown across rounds 4-12: SRP-LSH, IVF, IVF-SQ8, true
IVF-PQ (trained residual codebooks, asymmetric LUT scoring) — each
with a persisted, cell-bucketed index lifecycle and an in-plan recall
floor against the exact anchor — and the bitext margin-mining family
(exact anchor, IVF shortlist, persisted index, and the round-12
mined-only production form gated by a sampled anchor). Query set =
first 5 vectors by id — deterministic and self-contained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.operators import similarity as S
from gcd_etl_spark.plans.registry import duckdb_array_replace, query
from gcd_etl_spark.sources.catalog import read_table, read_table_spread

N_QUERIES = 5
TOP_K = 10
#: Fixture embedding dimensionality (FIXTURES.md: array<float> x 64).
EMB_DIM = 64


def _query_set(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") < N_QUERIES)


@query(
    "sim_bruteforce_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {N_QUERIES}),
     scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])), 6) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors against the corpus.

    Ranking happens on the cosine ROUNDED to 6 decimals (with
    neighbor-id tie-break) so rank order is stable across engines and
    shuffle schedules.
    """
    emb = read_table_spread(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(emb, _query_set(emb), k=TOP_K, dim=EMB_DIM)
    return out


def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN top-k rows: 8 tables x 4 sign bits (32
    deterministic hyperplanes). UNREGISTERED raw-result form since
    round 10 (top-k neighbor rows are approximate by definition, so
    there is no value oracle for them); the registered sim_ann_lsh
    wraps this exact plan in the in-plan recall@10 gate. Recall vs
    brute force is also asserted in tests/test_similarity.py."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    planes = S.make_planes(dim=EMB_DIM, n_planes=32)
    return S.lsh_topk(emb, _query_set(emb), planes, n_tables=8, k=TOP_K, dim=EMB_DIM)


def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN top-k rows (width-ruled cells/nprobe
    — suggest_ivf_cells/suggest_ivf_nprobe since round 13).
    UNREGISTERED raw-result form since round 10; the registered
    sim_ann_ivf wraps this exact plan in the in-plan recall@10
    gate."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, _query_set(emb), k=TOP_K, dim=EMB_DIM)


#: ANN output is approximate by definition, so the cross-engine check
#: is a BOUND, not value equality: the plan joins the ANN result to
#: the exact brute-force top-k computed in the same plan and emits an
#: overall recall@k floor flag. Hash family and data are both
#: deterministic, so the flag is stable run-to-run.
RECALL_FLOOR = 0.3

_RECALL_ORACLE = f"""
SELECT vec_id AS query_id, CAST({TOP_K} AS BIGINT) AS n_exact,
       1 AS recall_floor_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
"""


def _recall_bound(ann: DataFrame, exact: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    ex = exact.select("query_id", "neighbor_id")
    an = ann.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    per = (
        ex.join(an, on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
            F.count(F.lit(1)).alias("n_exact"),
        )
    )
    w = Window.partitionBy()  # 1 row per query vector: global agg is tiny
    overall = F.sum("hits").over(w) / F.sum("n_exact").over(w)
    return per.select(
        "query_id",
        "n_exact",
        (overall >= RECALL_FLOOR).cast("int").alias("recall_floor_ok"),
    )


@query("sim_ann_lsh", oracle=_RECALL_ORACLE)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN held to an exact recall@10 floor in-plan — the
    registered DEFAULT since round 10 (verdict item 3: the raw top-k
    form is approximate by definition and could never be
    driver-greened; it lives on as the unregistered sim_ann_lsh_topk,
    twin-pinned to this plan through the shared lsh_topk operator).
    Formerly registered as sim_ann_lsh_recall."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    q = _query_set(emb)
    planes = S.make_planes(dim=EMB_DIM, n_planes=32)
    ann = S.lsh_topk(emb, q, planes, n_tables=8, k=TOP_K, dim=EMB_DIM)
    exact = S.brute_force_topk(emb, q, k=TOP_K, dim=EMB_DIM)
    return _recall_bound(ann, exact)


@query("sim_ann_ivf", oracle=_RECALL_ORACLE)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN held to an exact recall@10 floor in-plan — the
    registered DEFAULT since round 10 (raw top-k form lives on as the
    unregistered sim_ann_ivf_topk, twin-pinned through the shared
    ivf_topk operator). Formerly registered as sim_ann_ivf_recall."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    q = _query_set(emb)
    ann = S.ivf_topk(emb, q, k=TOP_K, dim=EMB_DIM)
    exact = S.brute_force_topk(emb, q, k=TOP_K, dim=EMB_DIM)
    return _recall_bound(ann, exact)


#: Fixture embeddings are random (max pairwise cosine ~0.5, no planted
#: near-dups), so a production-style 0.98 threshold matches zero pairs
#: and the oracle would pass vacuously. 0.42 sits inside the observed
#: distribution: tens of boundary pairs at each sf actually exercise
#: the predicate. Both sides compare the ROUNDED cosine so the
#: threshold test never depends on last-ulp engine differences.
NEARDUP_THRESHOLD = 0.42


#: DuckDB restatement of the all-pairs anchor — used by
#: tests/test_similarity.py and as the pair-set oracle for the
#: registered BLAS path below.
NEARDUP_ANCHOR_ORACLE = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6)
      >= {NEARDUP_THRESHOLD}
"""

#: Hard ceiling for the all-pairs expression anchor: it is a
#: correctness oracle for the BLAS/LSH/IVF paths, NOT a scale path.
#: At 100 TB an unconditional cartesian scorer is a cluster-killer,
#: so the plan refuses to build beyond this corpus size.
NEARDUP_ANCHOR_MAX_ROWS = 100_000


def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — deliberately quadratic
    expression-tree anchor, pytest-only (demoted from the registry;
    round-2 verdict: an unconditional all-pairs scorer must not sit on
    the registered query surface). Guarded by a corpus-size bound; the
    registered scale paths are ``sim_embedding_neardup_blas`` (mid
    scale) and the LSH/IVF operators (beyond memory)."""
    from gcd_etl_spark.functions.vector import dot_fixed, norm_fixed

    emb = read_table_spread(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > NEARDUP_ANCHOR_MAX_ROWS:
        raise ValueError(
            f"sim_embedding_neardup is an O(n^2) correctness anchor, refusing "
            f"{n} rows (max {NEARDUP_ANCHOR_MAX_ROWS}); use "
            f"neardup_pairs_blas or the LSH/IVF operators at scale"
        )
    # Norms once per side (n rows), unrolled dot per pair (n^2) —
    # flat codegen'd arithmetic, same summation order as the fold.
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm_fixed("embedding", EMB_DIM).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm_fixed("embedding", EMB_DIM).alias("nb"),
    )
    denom = F.col("na") * F.col("nb")
    cos = F.when(denom > 0, dot_fixed("va", "vb", EMB_DIM) / denom)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .where(F.round(cos, 6) >= NEARDUP_THRESHOLD)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )


@query("sim_embedding_neardup_blas", oracle=NEARDUP_ANCHOR_ORACLE)
def sim_embedding_neardup_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-vectorized all-pairs near-dup (mapInPandas + one BLAS
    matmul per task against the broadcast normalized corpus): the
    mid-scale path between the expression-tree anchor and the LSH/IVF
    operators. Both sides threshold the cosine ROUNDED to 6 dp, so the
    pair set and emitted scores match the expression anchor (and its
    DuckDB restatement) exactly; equality is also asserted in
    tests/test_similarity.py."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    return S.neardup_pairs_blas(emb, threshold=NEARDUP_THRESHOLD)


_QUANT_ORACLE_BODY = """
WITH m AS (
  SELECT vec_id,
         CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
         CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
         embedding
  FROM embeddings
)
SELECT vec_id, mn, mx,
       list_transform(embedding,
                      x -> CASE WHEN mx > mn
                                THEN CAST(floor((CAST(x AS DOUBLE) - mn)
                                                / (mx - mn) * 255 + 0.5) AS BIGINT)
                                ELSE CAST(0 AS BIGINT) END) AS q_codes
FROM m
"""


@query(
    "emb_quantize_int8",
    oracle=duckdb_array_replace(_QUANT_ORACLE_BODY, ["q_codes"]),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min-max scalar quantization of float32 embeddings
    to 8-bit codes (the standard 4x ANN-index compression): code_i =
    round((x_i - mn)/(mx - mn) * 255) computed as floor(y + 0.5) in
    float64 — float32 values are exactly representable in float64
    and both engines execute the identical IEEE subtract / divide /
    multiply / add / floor sequence, so codes are bit-deterministic
    cross-engine (the BM25 micro-score argument, with no ln() in
    sight). Pure per-row codegen arithmetic: no shuffle, no UDF, no
    state — embarrassingly parallel at any scale. Code arrays are
    serialized via the registry's array convention; (mn, mx) ride
    along as the dequantization params a consumer needs."""
    from gcd_etl_spark.plans.registry import serialize_array_cols

    emb = read_table_spread(spark, sf_dir, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    m = emb.select("vec_id", mn.alias("mn"), mx.alias("mx"), "embedding")
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.when(
            F.col("mx") > F.col("mn"),
            F.floor(
                (x.cast("double") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * 255
                + 0.5
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return serialize_array_cols(
        m.select("vec_id", "mn", "mx", codes.alias("q_codes"))
    )


@query("sim_ann_ivfsq8_recall", oracle=_RECALL_ORACLE)
def sim_ann_ivfsq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + int8 scalar quantization — the memory-compressed ANN
    index (FAISS's IVF-SQ8 shape), held to the same exact recall@10
    floor as the other ANN paths. Named for what it is since round 10
    (verdict item 4: the old sim_ann_ivfpq_* names said PQ while the
    quantizer was per-vector min-max SQ8; true product quantization
    now lives under sim_ann_ivfpq_*); the coarse cells are
    Lloyd-TRAINED (train_coarse_centroids — the shared distributed
    k-means) and WIDTH-RULED since round 13 (suggest_ivf_cells /
    suggest_ivf_nprobe — the fixed 16/4 config's recall degraded
    through the floor at 8x the sf0.1 corpus).

    The corpus never ships full-precision vectors past the scan: each
    vector is min-max-quantized to 8-bit codes (emb_quantize_int8's
    arithmetic — 4x smaller state per row, the difference between
    fitting an index in cluster RAM or not at 100 TB), assigned to
    its nearest IVF cell, and scored ASYMMETRICALLY: the float query
    against the DEQUANTIZED corpus codes (mn + code/255*(mx-mn)),
    reconstructed inside the scoring expression — so the only
    full-precision embedding in flight is the 5-row query side.
    Shuffle key is the cell id, exactly like sim_ann_ivf."""
    from gcd_etl_spark.functions.vector import dot_fixed, norm_fixed

    emb = read_table_spread(spark, sf_dir, "embeddings")
    q = _query_set(emb)

    # width-rule count on the PLAIN scan (round 13): counting through
    # the spread frame shuffles the full table just to size the
    # quantizer — a parquet count is footer metadata. Same rows.
    n_cells = S.suggest_ivf_cells(read_table(spark, sf_dir, "embeddings").count())
    nprobe = S.suggest_ivf_nprobe(n_cells)
    centroids = S.train_coarse_centroids(emb, n_cells=n_cells, dim=EMB_DIM)
    if centroids.size == 0:
        return spark.createDataFrame(
            [], "query_id long, n_exact bigint, recall_floor_ok int"
        )

    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.when(
            F.col("mx") > F.col("mn"),
            F.floor(
                (x.cast("double") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255 + 0.5
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    corpus_q = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            mn.alias("mn"),
            mx.alias("mx"),
            "embedding",
            F.element_at(S.ivf_cells_udf(centroids, 1)(F.col("embedding")), 1).alias("cell"),
        )
        .withColumn("q_codes", codes)
        .drop("embedding")
    )
    dequant = F.transform(
        F.col("q_codes"),
        lambda c: (F.col("mn") + c.cast("double") / 255 * (F.col("mx") - F.col("mn"))).cast(
            "float"
        ),
    )
    queries = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.explode(S.ivf_cells_udf(centroids, nprobe)(F.col("embedding"))).alias("cell"),
    )
    cand = (
        corpus_q.join(F.broadcast(queries), on="cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_vec", dequant)
    )
    denom = norm_fixed("query_vec", EMB_DIM) * norm_fixed("approx_vec", EMB_DIM)
    cos = F.when(denom > 0, dot_fixed("query_vec", "approx_vec", EMB_DIM) / denom)
    from pyspark.sql import Window

    scored = cand.select(
        "query_id", "neighbor_id", F.round(cos, 6).alias("cosine")
    )
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
    )
    ann = scored.withColumn("rank", rank).where(F.col("rank") <= TOP_K)
    exact = S.brute_force_topk(emb, _query_set(emb), k=TOP_K, dim=EMB_DIM)
    return _recall_bound(ann, exact)


#: Table property carrying the staging-time source row count, stamped
#: on every width-ruled staged index so probe-path name resolution can
#: re-apply the CURRENT width rule to it (round-14 verdict item 7: a
#: rule change — e.g. an IVF_CELLS_FLOOR bump — over unchanged data
#: must force a re-stage, not silently resolve to the stale width).
STAGED_ROWS_PROP = "gcd.staging_rows"


def _stamp_staged_rows(spark: SparkSession, name: str, n_rows: int) -> None:
    """Record the staging-time source row count on the staged table
    (catalog-only op; no data job)."""
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES "
        f"('{STAGED_ROWS_PROP}'='{int(n_rows)}')"
    )


def _staged_rows_prop(spark: SparkSession, name: str) -> int | None:
    try:
        rows = spark.sql(
            f"SHOW TBLPROPERTIES {name} ('{STAGED_ROWS_PROP}')"
        ).collect()
    except Exception:  # noqa: BLE001 — missing table/property -> re-count
        return None
    for r in rows:
        v = r["value"]
        if v is not None and str(v).isdigit():
            return int(v)
    return None


def _resolve_staged_cells(spark: SparkSession, prefix: str, rule) -> int | None:
    """Cell count of an ALREADY-STAGED width-ruled index, parsed back
    from the catalog name instead of recomputed from a corpus count.

    Staged names are ``<prefix>c<ncells>`` where ``prefix`` ends with
    the source table's data-file fingerprint, so a catalog hit implies
    identical source bytes and therefore the identical width-rule
    output — the ``c`` suffix IS the staging-time rule result. Before
    round 13's optimization pass, every probe re-derived the suffix
    with a full ``count()`` of the source table just to spell the
    table name (one full-scan metadata job per query — at 100 TB a
    file-listing + footer pass per probe; guide §1.2). Returns None
    when nothing matches (the builder then counts ONCE, at staging).

    Round 14 (verdict item 7): a catalog name match alone guards DATA
    drift (the fingerprint) but not RULE drift — after a width-rule
    change over unchanged data the stale name would still resolve. The
    staged table carries its staging-time source row count as a table
    property; resolution re-applies the CURRENT ``rule`` to it and
    only trusts a name whose suffix equals the rule's output. A
    mismatch (or a legacy table with no stamp) returns None, sending
    the caller down the count-once path, which re-stages under the
    newly-ruled name and stamps the property.
    """
    import re as _re

    rows = spark.sql(f"SHOW TABLES LIKE '{prefix}c*'").collect()
    cells = [
        (int(m.group(1)), r["tableName"])
        for r in rows
        if (m := _re.fullmatch(_re.escape(prefix) + r"c(\d+)", r["tableName"]))
    ]
    verified = [
        c
        for c, name in cells
        if (n := _staged_rows_prop(spark, name)) is not None and rule(n) == c
    ]
    # at most one per fingerprint in practice (the rule is a pure
    # function of the fingerprinted bytes); max() is a deterministic
    # tie-break if a foreign table ever matches the pattern
    return max(verified) if verified else None


def ensure_ivfsq8_index(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """The persisted SQ8 ANN index, staged once per input fingerprint
    (ingest-side cost, idempotent) and read back on every query: a
    cell-bucketed table of int8-quantized corpus codes plus a 16-row
    Lloyd-TRAINED centroid table (train_coarse_centroids — round-10:
    the modulo sample is gone, so a small-but-nonempty corpus always
    stages real centroids). The similarity twin of
    plans/dedup.ensure_corpus_band_index — at 100 TB the index IS
    storage (build amortized across every query), and the query path
    must touch only (centroid table, nprobe cell buckets), never the
    raw corpus vectors.

    Returns (index_df, centroids_ndarray)."""
    import numpy as np

    from gcd_etl_spark.sources.catalog import ensure_staged, staged_name
    from gcd_etl_spark.sources.sinks import write_bucketed_table

    idx_base = staged_name("ivfsq8_index", sf_dir, "embeddings")
    # width-rule the coarse quantizer at (re)staging (round-13 item 1)
    # and carry the config in the name so a differently-configured
    # index can never shadow this one. NAME RESOLUTION on the probe
    # path parses the suffix back from the catalog (round-13
    # optimization pass): the previous per-probe count — even on the
    # plain scan — was a full-table job per query just to re-derive a
    # value the staged name already records. The count now runs only
    # when staging.
    n_cells = _resolve_staged_cells(spark, f"{idx_base}_", S.suggest_ivf_cells)
    counted_rows = None
    if n_cells is None:
        counted_rows = read_table(spark, sf_dir, "embeddings").count()
        n_cells = S.suggest_ivf_cells(counted_rows)
    idx_name = f"{idx_base}_c{n_cells}"
    cent_name = staged_name("ivfsq8_centroids", sf_dir, "embeddings") + f"_c{n_cells}"

    def stage() -> None:
        trained = S.train_coarse_centroids(emb, n_cells=n_cells, dim=EMB_DIM)
        if trained.size == 0:
            # empty corpus: stage empty tables with the right schemas
            spark.createDataFrame(
                [], "cell_id int, centroid array<double>"
            ).write.mode("overwrite").saveAsTable(cent_name)
            spark.createDataFrame(
                [],
                "neighbor_id long, cell int, mn double, mx double, "
                "q_codes array<bigint>",
            ).write.mode("overwrite").saveAsTable(idx_name)
        else:
            centroids = trained
            spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
                "cell_id int, centroid array<double>",
            ).write.mode("overwrite").saveAsTable(cent_name)
            mn = F.array_min("embedding").cast("double")
            mx = F.array_max("embedding").cast("double")
            codes = F.transform(
                F.col("embedding"),
                lambda x: F.when(
                    F.col("mx") > F.col("mn"),
                    F.floor(
                        (x.cast("double") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * 255
                        + 0.5
                    ).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint")),
            )
            index = (
                emb.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.element_at(
                        S.ivf_cells_udf(centroids, 1)(F.col("embedding")), 1
                    ).alias("cell"),
                    mn.alias("mn"),
                    mx.alias("mx"),
                    "embedding",
                )
                .withColumn("q_codes", codes)
                .drop("embedding")
            )
            from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

            write_bucketed_table(
                index,
                idx_name,
                ["cell"],
                n_buckets=suggest_bucket_count_for(sf_dir, "embeddings"),
                sort_cols=["cell"],
            )

    ensure_staged(spark, [idx_name, cent_name], stage)
    if counted_rows is not None:
        # counted this probe (fresh stage OR legacy unstamped table):
        # stamp so every later probe resolves from the catalog alone
        _stamp_staged_rows(spark, idx_name, counted_rows)
    # tiny trained artifact: collect unsorted (one job), order
    # driver-side on the unique key — a distributed orderBy of a
    # <=n_cells-row table costs a global-sort exchange plus extra AQE
    # jobs per probe (round 13, guide §1.2)
    cent = sorted(
        spark.table(cent_name).collect(),
        # nulls-first like the orderBy this replaced: a corrupted
        # hand-written artifact sorts instead of raising (ADVICE r13)
        key=lambda r: (r["cell_id"] is None, r["cell_id"]),
    )
    centroids = np.asarray([r["centroid"] for r in cent], dtype=np.float64)
    return spark.table(idx_name), centroids


@query("sim_ann_ivfsq8_persisted", oracle=_RECALL_ORACLE)
def sim_ann_ivfsq8_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_ivfsq8_recall with the index build/query split made
    REAL: the int8-quantized, cell-bucketed corpus index and the
    trained centroid table are PERSISTED once (ensure_ivfsq8_index)
    and the query path only (a) collects the 16-row centroid table to
    route each query to its width-ruled nprobe cells and (b) probes the bucketed
    index — the corpus is never re-read, re-quantized, or re-assigned
    per query, which is the production contract for an ANN serving
    path at 100 TB (index build amortizes across every query ever
    run; per-query cost is O(nprobe cell buckets)). Scoring is the
    same asymmetric dequantized-cosine as the in-plan variant, held
    to the same exact recall@10 floor against the brute-force anchor;
    index-reuse plan shape pinned in tests/test_round9.py. Renamed
    from sim_ann_ivfpq_persisted in round 10 (it is SQ8, not PQ)."""
    from pyspark.sql import Window

    from gcd_etl_spark.functions.vector import dot_fixed, norm_fixed

    emb = read_table_spread(spark, sf_dir, "embeddings")
    idx, centroids = ensure_ivfsq8_index(spark, sf_dir, emb)
    if centroids.size == 0:
        return spark.createDataFrame(
            [], "query_id long, n_exact bigint, recall_floor_ok int"
        )
    q = _query_set(emb)
    # probe config derived from the STAGED index's actual cell count
    nprobe = S.suggest_ivf_nprobe(len(centroids))
    queries = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.explode(S.ivf_cells_udf(centroids, nprobe)(F.col("embedding"))).alias("cell"),
    )
    dequant = F.transform(
        F.col("q_codes"),
        lambda c: (
            F.col("mn") + c.cast("double") / 255 * (F.col("mx") - F.col("mn"))
        ).cast("float"),
    )
    cand = (
        idx.join(F.broadcast(queries), on="cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_vec", dequant)
    )
    denom = norm_fixed("query_vec", EMB_DIM) * norm_fixed("approx_vec", EMB_DIM)
    cos = F.when(denom > 0, dot_fixed("query_vec", "approx_vec", EMB_DIM) / denom)
    scored = cand.select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
    )
    ann = scored.withColumn("rank", rank).where(F.col("rank") <= TOP_K)
    exact = S.brute_force_topk(emb, _query_set(emb), k=TOP_K, dim=EMB_DIM)
    return _recall_bound(ann, exact)


# ----------------------------------- true product quantization (PQ)


@query("sim_ann_ivfpq_recall", oracle=_RECALL_ORACLE)
def sim_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE IVF-PQ ANN (round-9 verdict item 4): Lloyd-trained coarse
    quantizer (width-ruled cell count, suggest_ivf_cells), residual
    PRODUCT quantization (8 subspaces
    x 8 dims, per-subspace codebooks of up to 256 entries trained on
    a bounded deterministic sample), and ASYMMETRIC distance scoring
    — the full-precision query against per-subspace lookup tables,
    the reconstruction c_cell + r̂ never materialized. 8 bytes per
    corpus vector in the index (32x smaller than float32), which at
    100 TB is the difference between an in-RAM index and none. Held
    to the same exact recall@10 floor as every other ANN path; the
    FAISS IVFPQ shape, re-expressed as one cell-keyed broadcast join
    plus an Arrow-batched table-gather scan."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    # plain-scan count for the width rule (see sim_ann_ivfsq8_recall)
    n_cells = S.suggest_ivf_cells(read_table(spark, sf_dir, "embeddings").count())
    # ONE bounded collect feeds both the Lloyd init and the PQ sample
    # (round 13, guide §1.2 — was three separate full-scan jobs)
    sample = S.train_sample(emb, max(S.PQ_TRAIN_SAMPLE, n_cells))
    centroids = S.train_coarse_centroids(
        emb, n_cells=n_cells, dim=EMB_DIM, sample_rows=sample
    )
    if centroids.size == 0:
        return spark.createDataFrame(
            [], "query_id long, n_exact bigint, recall_floor_ok int"
        )
    codebooks = S.pq_train_codebooks(emb, centroids, sample_rows=sample)
    index = S.pq_encode(emb, centroids, codebooks)
    ann = S.pq_adc_topk(
        index,
        _query_set(emb),
        centroids,
        codebooks,
        nprobe=S.suggest_ivf_nprobe(n_cells),
        k=TOP_K,
    )
    exact = S.brute_force_topk(emb, _query_set(emb), k=TOP_K, dim=EMB_DIM)
    return _recall_bound(ann, exact)


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """The persisted TRUE-PQ index, staged once per input fingerprint
    and read back on every query: a cell-bucketed table of 8-byte PQ
    codes plus the two trained artifacts (16-row centroid table, m x ks
    codebook table). Query path = collect the tiny artifacts, probe
    nprobe cell buckets, ADC-score the codes — raw corpus vectors are
    touched ONLY at build time.

    Returns (codes_df, centroids_ndarray, codebooks_ndarray)."""
    import numpy as np

    from gcd_etl_spark.sources.catalog import ensure_staged, staged_name
    from gcd_etl_spark.sources.sinks import write_bucketed_table

    codes_base = staged_name("ivfpq_codes", sf_dir, "embeddings")
    # width-rule the coarse quantizer at (re)staging (round-13 item 1)
    # and carry the config in the name so a differently-configured
    # index can never shadow this one (probe-path name resolution from
    # the catalog, count only at staging — see _resolve_staged_cells)
    n_cells = _resolve_staged_cells(spark, f"{codes_base}_", S.suggest_ivf_cells)
    counted_rows = None
    if n_cells is None:
        counted_rows = read_table(spark, sf_dir, "embeddings").count()
        n_cells = S.suggest_ivf_cells(counted_rows)
    codes_name = f"{codes_base}_c{n_cells}"
    cent_name = staged_name("ivfpq_centroids", sf_dir, "embeddings") + f"_c{n_cells}"
    book_name = staged_name("ivfpq_codebooks", sf_dir, "embeddings") + f"_c{n_cells}"

    def stage() -> None:
        # one collect for Lloyd init + PQ sample (round 13, guide §1.2)
        sample = S.train_sample(emb, max(S.PQ_TRAIN_SAMPLE, n_cells))
        centroids = S.train_coarse_centroids(
            emb, n_cells=n_cells, dim=EMB_DIM, sample_rows=sample
        )
        if centroids.size == 0:
            spark.createDataFrame(
                [], "cell_id int, centroid array<double>"
            ).write.mode("overwrite").saveAsTable(cent_name)
            spark.createDataFrame(
                [], "m int, code int, subvec array<double>"
            ).write.mode("overwrite").saveAsTable(book_name)
            spark.createDataFrame(
                [], "neighbor_id long, cell int, codes array<int>"
            ).write.mode("overwrite").saveAsTable(codes_name)
        else:
            codebooks = S.pq_train_codebooks(emb, centroids, sample_rows=sample)
            spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
                "cell_id int, centroid array<double>",
            ).write.mode("overwrite").saveAsTable(cent_name)
            spark.createDataFrame(
                [
                    (i, j, [float(x) for x in codebooks[i, j]])
                    for i in range(codebooks.shape[0])
                    for j in range(codebooks.shape[1])
                ],
                "m int, code int, subvec array<double>",
            ).write.mode("overwrite").saveAsTable(book_name)
            from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

            write_bucketed_table(
                S.pq_encode(emb, centroids, codebooks),
                codes_name,
                ["cell"],
                n_buckets=suggest_bucket_count_for(sf_dir, "embeddings"),
                sort_cols=["cell"],
            )

    ensure_staged(spark, [codes_name, cent_name, book_name], stage)
    if counted_rows is not None:
        _stamp_staged_rows(spark, codes_name, counted_rows)
    # tiny trained artifacts: ONE tagged-union collect for both tables
    # (round 14 — the C14 pattern applied to the probe path; was two
    # collect jobs per probe), then driver-side sorts on the unique
    # keys (round 13: a distributed orderBy of a <=2048-row table
    # costs a global-sort exchange per probe). Nulls-first sort keys
    # like the orderBy this replaced (ADVICE r13).
    tagged = (
        spark.table(cent_name)
        .select(
            F.lit(0).alias("_t"),
            F.col("cell_id").cast("int").alias("_k1"),
            F.lit(0).alias("_k2"),
            F.col("centroid").alias("_vec"),
        )
        .unionByName(
            spark.table(book_name).select(
                F.lit(1).alias("_t"),
                F.col("m").cast("int").alias("_k1"),
                F.col("code").cast("int").alias("_k2"),
                F.col("subvec").alias("_vec"),
            )
        )
        .collect()
    )
    cent = sorted(
        (r for r in tagged if r["_t"] == 0),
        key=lambda r: (r["_k1"] is None, r["_k1"]),
    )
    centroids = np.asarray([r["_vec"] for r in cent], dtype=np.float64)
    book_rows = sorted(
        (r for r in tagged if r["_t"] == 1),
        key=lambda r: (r["_k1"] is None, r["_k1"], r["_k2"] is None, r["_k2"]),
    )
    if book_rows:
        m = 1 + max(r["_k1"] for r in book_rows)
        ks = len(book_rows) // m
        dsub = len(book_rows[0]["_vec"])
        codebooks = np.asarray(
            [r["_vec"] for r in book_rows], dtype=np.float64
        ).reshape(m, ks, dsub)
    else:
        codebooks = np.zeros((S.PQ_M, 0, 1), dtype=np.float64)
    return spark.table(codes_name), centroids, codebooks


@query("sim_ann_ivfpq_persisted", oracle=_RECALL_ORACLE)
def sim_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ann_ivfpq_recall with the index build/query split made
    REAL (the ANN serving contract at 100 TB): trained centroids,
    trained codebooks, and the cell-bucketed 8-byte code table are
    PERSISTED once (ensure_ivfpq_index); the query path collects only
    the two tiny trained artifacts and ADC-probes nprobe cell
    buckets. Re-registered in round 10 with TRUE product quantization
    — the previous holder of this name was scalar int8 quantization
    and now lives honestly as sim_ann_ivfsq8_persisted."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    codes, centroids, codebooks = ensure_ivfpq_index(spark, sf_dir, emb)
    if centroids.size == 0 or codebooks.shape[1] == 0:
        return spark.createDataFrame(
            [], "query_id long, n_exact bigint, recall_floor_ok int"
        )
    ann = S.pq_adc_topk(
        codes,
        _query_set(emb),
        centroids,
        codebooks,
        nprobe=S.suggest_ivf_nprobe(len(centroids)),
        k=TOP_K,
    )
    exact = S.brute_force_topk(emb, _query_set(emb), k=TOP_K, dim=EMB_DIM)
    return _recall_bound(ann, exact)


#: vec_id % EMB_DELTA_MOD == 0 -> "tonight's new vectors"; everything
#: else is the standing corpus the quantizers were trained on.
EMB_DELTA_MOD = 7

_APPEND_RECALL_ORACLE = f"""
SELECT vec_id AS query_id, CAST({TOP_K} AS BIGINT) AS n_exact,
       1 AS recall_floor_ok, 1 AS delta_reachable
FROM embeddings WHERE vec_id < {N_QUERIES}
"""


@query("sim_ann_ivfpq_index_append", oracle=_APPEND_RECALL_ORACLE)
def sim_ann_ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPDATE path of the ANN index lifecycle — the similarity
    twin of dedup_index_append_cycle: new vectors
    (``vec_id % EMB_DELTA_MOD == 0``) are encoded with the FROZEN
    corpus-trained quantizers (centroids + PQ codebooks — the FAISS
    operational pattern: you do NOT retrain per ingest; you monitor
    drift and retrain on a schedule) and their 8-byte codes land via
    a bucketed APPEND into the cell-bucketed code table, so queries
    immediately see them. Held to two gates in the hashed result: the
    exact recall@10 floor against brute force over the FULL corpus
    (old + new — an append-less index is structurally unable to
    return new vectors, dragging recall), and delta_reachable = at
    least one appended vector actually surfaces in the ANN top-k
    (deterministic per fixture; 10/2/9 hits at sf 0.001/0.01/0.1).
    Cycle table rebuilt per run BY DESIGN (the subject is the
    append; staged-once serving is sim_ann_ivfpq_persisted's pin).
    Append preserves the bucket spec — co-location pinned in
    tests/test_round10.py."""
    from gcd_etl_spark.sources.catalog import drop_staged, staged_name
    from gcd_etl_spark.sources.sinks import write_bucketed_table

    emb = read_table_spread(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % EMB_DELTA_MOD == 0
    corpus, delta = emb.where(~is_delta), emb.where(is_delta)

    # width-rule count on the PLAIN scan with the same corpus
    # predicate (round 13) — counting through the spread frame
    # shuffled the full vector table just to size the quantizer
    n_cells = S.suggest_ivf_cells(
        read_table(spark, sf_dir, "embeddings").where(~is_delta).count()
    )
    # one collect for Lloyd init + PQ sample (round 13, guide §1.2)
    sample = S.train_sample(corpus, max(S.PQ_TRAIN_SAMPLE, n_cells))
    centroids = S.train_coarse_centroids(
        corpus, n_cells=n_cells, dim=EMB_DIM, sample_rows=sample
    )
    if centroids.size == 0:
        return spark.createDataFrame(
            [],
            "query_id long, n_exact bigint, recall_floor_ok int, "
            "delta_reachable int",
        )
    codebooks = S.pq_train_codebooks(corpus, centroids, sample_rows=sample)

    name = staged_name("ivfpq_cycle_codes", sf_dir) + f"_c{n_cells}"
    drop_staged(spark, name)
    from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

    nb = suggest_bucket_count_for(sf_dir, "embeddings")
    write_bucketed_table(
        S.pq_encode(corpus, centroids, codebooks),
        name,
        ["cell"],
        n_buckets=nb,
        sort_cols=["cell"],
    )
    # the append: tonight's vectors, frozen quantizers, same bucket spec
    write_bucketed_table(
        S.pq_encode(delta, centroids, codebooks),
        name,
        ["cell"],
        n_buckets=nb,
        sort_cols=["cell"],
        mode="append",
    )
    ann = S.pq_adc_topk(
        spark.table(name),
        _query_set(emb),
        centroids,
        codebooks,
        nprobe=S.suggest_ivf_nprobe(n_cells),
        k=TOP_K,
    )
    # delta-reachability gate folded INTO the returned plan (round
    # 13): the old form ran a separate eager ``limit(1).count()``
    # action over ``ann`` before returning, so the whole ADC probe
    # pipeline executed TWICE per run (once for the control-plane
    # bool, once when the returned recall join materialized). As a
    # 1-row aggregate crossJoined back in, both consumers share the
    # plan and Spark's ReusedExchange dedupes the probe pipeline
    # below the common exchange — one ADC execution, and the probe
    # (bucketed codes scan, broadcast probe join) stays visible in
    # the final plan. Values identical: delta_reachable = 1 iff any
    # ANN neighbor is an appended vector, 0 otherwise (coalesce
    # covers the structurally-empty case the early return already
    # guards).
    reach1 = ann.agg(
        F.coalesce(
            F.max(
                F.when(F.col("neighbor_id") % EMB_DELTA_MOD == 0, 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("delta_reachable")
    )
    exact = S.brute_force_topk(emb, _query_set(emb), k=TOP_K, dim=EMB_DIM)
    return _recall_bound(ann, exact).crossJoin(F.broadcast(reach1))


# ------------------------------------------- power-iteration PCA
#: Fixed power-method budget (static job graph + unrollable oracle).
PCA_ITERS = 3
#: Quantization scales: matrix entries and the iterate both live in
#: exact integer milli-units. Overflow budget: |z_j| <= n_rows *
#: a_max * y_max ~ 4e13 at sf0.1 (2k vectors), and z*1000 stays ~200x
#: under the BIGINT ceiling; at larger corpora drop PCA_A_SCALE one
#: decade per 100x rows (same plan, smaller scale).
PCA_A_SCALE = 1000
PCA_V_SCALE = 1000


def _pca_oracle() -> str:
    head = f"""
WITH a AS (
  SELECT vec_id AS i, t.j AS j,
         CAST(floor(CAST(embedding[t.j] AS DOUBLE) * {PCA_A_SCALE}) AS BIGINT) AS a
  FROM embeddings, (SELECT UNNEST(range(1, {64 + 1})) AS j) t
),
v0 AS (SELECT UNNEST(range(1, {64 + 1})) AS j, CAST({PCA_V_SCALE} AS BIGINT) AS v)"""
    steps = []
    prev = "v0"
    for it in range(1, PCA_ITERS + 1):
        # NB integer `//` in DuckDB TRUNCATES toward zero (measured:
        # (-7)//2 = -3), exactly like Spark's `div` — the pair of
        # truncating divisions below is therefore engine-identical
        # even for the negative components a PCA iterate contains.
        steps.append(f"""
y{it} AS (SELECT a.i, SUM(a.a * v.v) AS y FROM a JOIN {prev} v USING (j) GROUP BY a.i),
z{it} AS (SELECT a.j, SUM(a.a * y.y) AS z FROM a JOIN y{it} y USING (i) GROUP BY a.j),
m{it} AS (SELECT GREATEST(MAX(ABS(z)), 1) AS m FROM z{it}),
v{it} AS (SELECT j, (z * {PCA_V_SCALE}) // m AS v FROM z{it} CROSS JOIN m{it})""")
        prev = f"v{it}"
    return (
        head
        + ","
        + ",".join(steps)
        + f"\nSELECT j AS dim_idx, CAST(v AS BIGINT) AS component_milli FROM {prev}"
    )


@query("emb_pca_power", oracle=_pca_oracle())
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by
    fixed-budget power iteration (v ← normalize(AᵀA v), 3 rounds) —
    distributed iterative LINEAR ALGEBRA carrying a full value-hash
    oracle, because every operation is exact integer arithmetic:
    matrix entries quantize once to milli-units, each half-step is a
    join + integer-product sum, and the per-round renormalization is
    a truncating integer division by max|z| (truncation, not floor,
    because DuckDB's integer ``//`` truncates exactly like Spark's
    ``div`` — measured, see the oracle comment; the nanorank stance
    from graph_pagerank applied to signed values).

    Plan shape per round: Aᵀ(Av) as two co-keyed join+aggregates
    over the (i, j, a) long matrix — the 64-component iterate
    broadcasts to the row-keyed product, the row vector y joins back
    on the row key (sort-merge, co-partitioned), and the j-aggregate
    is 64 rows. The long matrix is localCheckpoint'ed once (6 reuses
    across 3 rounds — the kmeans-assignment precedent); each tiny
    iterate is checkpointed so the lineage stays linear, exactly how
    an iterative solver should sit on a cluster. No collect anywhere
    — the iterate never leaves the executors."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    a_long = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            F.col("vec_id").alias("i"),
            (F.col("pos") + 1).alias("j"),
            F.floor(F.col("x").cast("double") * PCA_A_SCALE).cast("bigint").alias("a"),
        )
        .localCheckpoint(eager=False)
    )
    v = spark.range(1, 64 + 1).select(
        F.col("id").alias("j"), F.lit(PCA_V_SCALE).cast("bigint").alias("v")
    )
    for _ in range(PCA_ITERS):
        y = (
            a_long.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("a") * F.col("v")).alias("y"))
        )
        z = (
            a_long.join(y, "i")
            .groupBy("j")
            .agg(F.sum(F.col("a") * F.col("y")).alias("z"))
        )
        m = z.agg(F.greatest(F.max(F.abs(F.col("z"))), F.lit(1).cast("bigint")).alias("m"))
        v = (
            z.crossJoin(F.broadcast(m))
            .select("j", F.expr(f"(z * {PCA_V_SCALE}) div m").alias("v"))
            .localCheckpoint(eager=False)
        )
    return v.select(F.col("j").alias("dim_idx"), F.col("v").cast("bigint").alias("component_milli"))


# ----------------------------------------------- bitext margin mining
#: Artetxe-Schwenk ratio-margin mining constants: top-K neighborhood
#: for the margin denominator, the minimum margin (ppm) for an
#: accepted pair, and the anchor's pair-count ceiling (the registered
#: plan is the exact-scoring anchor; at corpus scale the candidate
#: pairs come from the IVF shortlist instead of A x B).
BITEXT_K = 4
BITEXT_MARGIN_MIN_PPM = 1_050_000
BITEXT_ANCHOR_MAX_PAIRS = 10_000_000


def _bitext_oracle() -> str:
    pair_dot = " + ".join(f"p.qa[{i}] * p.qb[{i}]" for i in range(1, EMB_DIM + 1))
    self_dot = " + ".join(f"qv[{i}] * qv[{i}]" for i in range(1, EMB_DIM + 1))
    return f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
b AS (
  SELECT vec_id, label, qv, CAST({self_dot} AS BIGINT) AS nrm FROM e
),
p AS (
  SELECT a.vec_id AS src_id, c.vec_id AS tgt_id,
         a.qv AS qa, c.qv AS qb, a.nrm AS na, c.nrm AS nb
  FROM b a JOIN b c ON a.label % 2 = 0 AND c.label % 2 = 1
),
v AS (
  SELECT src_id, tgt_id, CAST({pair_dot} AS BIGINT) AS dot, na, nb
  FROM p
),
cosv AS (
  SELECT src_id, tgt_id,
         CAST(floor(CAST(dot AS DOUBLE)
                    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS cos_ppm
  FROM v WHERE dot > 0 AND na > 0 AND nb > 0
),
ranked AS (
  SELECT src_id, tgt_id, cos_ppm,
         ROW_NUMBER() OVER (PARTITION BY src_id
                            ORDER BY cos_ppm DESC, tgt_id) AS rk_s,
         ROW_NUMBER() OVER (PARTITION BY tgt_id
                            ORDER BY cos_ppm DESC, src_id) AS rk_t
  FROM cosv
),
ax AS (
  SELECT src_id, CAST(SUM(cos_ppm) AS BIGINT) AS asum
  FROM ranked WHERE rk_s <= {BITEXT_K} GROUP BY src_id
),
ay AS (
  SELECT tgt_id, CAST(SUM(cos_ppm) AS BIGINT) AS bsum
  FROM ranked WHERE rk_t <= {BITEXT_K} GROUP BY tgt_id
),
m AS (
  SELECT r.src_id, r.tgt_id, r.cos_ppm,
         CAST(r.cos_ppm * {2 * BITEXT_K * 1_000_000} // (ax.asum + ay.bsum)
              AS BIGINT) AS margin_ppm
  FROM ranked r
  JOIN ax ON r.src_id = ax.src_id
  JOIN ay ON r.tgt_id = ay.tgt_id
  WHERE ax.asum + ay.bsum > 0
),
best AS (
  SELECT src_id, tgt_id, cos_ppm, margin_ppm,
         ROW_NUMBER() OVER (PARTITION BY src_id
                            ORDER BY margin_ppm DESC, tgt_id) AS pick
  FROM m
)
SELECT src_id, tgt_id, cos_ppm, margin_ppm
FROM best WHERE pick = 1 AND margin_ppm >= {BITEXT_MARGIN_MIN_PPM}
"""


def _bitext_sides(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(source, target) frames with the SRP-family integer
    quantization (1e6 fixed point) and int64 self-dots — the shared
    front end of the exact anchor and the IVF-shortlist path, so the
    two can never quantize differently."""
    from gcd_etl_spark.functions.vector import dot_fixed_long

    q = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.transform(
            "embedding", lambda v: F.floor(v.cast("double") * 1_000_000 + 0.5).cast("long")
        ).alias("qv"),
    ).select(
        "vec_id",
        "label",
        "embedding",
        "qv",
        dot_fixed_long("qv", "qv", EMB_DIM).alias("nrm"),
    )
    a = q.where(F.col("label") % 2 == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("src_vec"),
        F.col("qv").alias("qa"),
        F.col("nrm").alias("na"),
    )
    b = q.where(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("tgt_vec"),
        F.col("qv").alias("qb"),
        F.col("nrm").alias("nb"),
    )
    return a, b


def _bitext_cos_ppm(pairs: DataFrame) -> DataFrame:
    """(src_id, tgt_id, cos_ppm) from candidate pairs carrying
    (qa, na, qb, nb): exact int64 dot, cosine rounded to ppm — the
    only float step, identical in anchor and shortlist paths.

    The dot runs as the higher-order-function fold since round 13:
    the unrolled 64-term form (dot_fixed_long) lands inside the fused
    candidate-join stage here — the exact placement whose generated
    method the round-12 SRP measurement showed degrading the whole
    stage — and measured 5.3-5.4 s vs 1.2-1.6 s for the HOF fold on
    the same 307k-candidate stage at sf0.1 (4x; OPTIMIZATION_r13.md).
    Bit-identical values: exact int64 terms, order-free addition."""
    from gcd_etl_spark.functions.vector import dot_hof_long

    dot = dot_hof_long("qa", "qb")
    return (
        pairs.select("src_id", "tgt_id", dot.alias("dot"), "na", "nb")
        .where((F.col("dot") > 0) & (F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "src_id",
            "tgt_id",
            F.floor(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("cos_ppm"),
        )
    )


def _bitext_mine(cosv: DataFrame) -> DataFrame:
    """Ratio-margin mining over a scored candidate set: margin =
    cos over the mean of both endpoints' top-K candidate
    neighborhoods, best target per source, threshold in exact
    integer ppm. Candidate-set-agnostic — the anchor feeds it the
    full A x B, the production path feeds it the IVF shortlist
    (margins are then shortlist margins, as in CCMatrix).

    Round-13 restructure (values proven identical vs the DuckDB
    oracle and the pre-change rows at sf0.1): the neighborhood sums
    are CONDITIONAL WINDOW SUMS over the same partitionings as the
    rank windows — ``sum(when(rk <= K, cos)) over (partition by
    key)`` — instead of two groupBy branches joined back into the
    scored set. The old shape had THREE consumers of the scored
    candidate set (both neighborhood aggregates and the margin
    join), so the whole candidate join + dot re-executed up to 3x
    per run (8.7-9.3 s at sf0.1), and fixing that with a lineage
    cut (localCheckpoint) hid the persisted-index scan from the
    plan while a persist() would let bench rep 2 silently hit rep
    1's CacheManager entry. The window-sum form has exactly ONE
    linear pipeline: Exchange(tgt_id) -> rk_t + bsum ->
    Exchange(src_id) -> rk_s + asum -> margin -> pick (reuses the
    src_id partitioning, sort only) — candidates computed once, 2
    exchanges of the 3-column shortlist, zero self-joins, zero
    lineage cuts, full plan visibility. The unordered sum windows
    reuse the rank windows' partitioning (guide §2.4: same-key
    windows need no second shuffle)."""
    from pyspark.sql import Window as W

    cosv = cosv.select("src_id", "tgt_id", "cos_ppm")
    w_t = W.partitionBy("tgt_id").orderBy(
        F.col("cos_ppm").desc(), F.col("src_id").asc()
    )
    w_t_all = W.partitionBy("tgt_id")
    w_s = W.partitionBy("src_id").orderBy(
        F.col("cos_ppm").desc(), F.col("tgt_id").asc()
    )
    w_s_all = W.partitionBy("src_id")
    scored = (
        cosv.withColumn("rk_t", F.row_number().over(w_t))
        .withColumn(
            "bsum",
            F.sum(F.when(F.col("rk_t") <= BITEXT_K, F.col("cos_ppm")))
            .over(w_t_all)
            .cast("bigint"),
        )
        .withColumn("rk_s", F.row_number().over(w_s))
        .withColumn(
            "asum",
            F.sum(F.when(F.col("rk_s") <= BITEXT_K, F.col("cos_ppm")))
            .over(w_s_all)
            .cast("bigint"),
        )
    )
    m = scored.where(F.col("asum") + F.col("bsum") > 0).select(
        "src_id",
        "tgt_id",
        "cos_ppm",
        F.expr(
            f"cos_ppm * {2 * BITEXT_K * 1_000_000}L div (asum + bsum)"
        ).alias("margin_ppm"),
    )
    pick = F.row_number().over(
        W.partitionBy("src_id").orderBy(F.col("margin_ppm").desc(), F.col("tgt_id").asc())
    )
    return (
        m.withColumn("pick", pick)
        .where((F.col("pick") == 1) & (F.col("margin_ppm") >= BITEXT_MARGIN_MIN_PPM))
        .select("src_id", "tgt_id", "cos_ppm", F.col("margin_ppm").cast("long").alias("margin_ppm"))
    )


@query("sim_bitext_margin", oracle=_bitext_oracle())
def sim_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk / LASER,
    CCMatrix): the parallel-corpus miner of a multilingual training
    pipeline. Even labels play the source language, odd labels the
    target; each cross pair is scored by exact integer-quantized
    cosine, and a pair is accepted when its RATIO MARGIN — cosine
    over the mean of both endpoints' top-K neighborhoods — clears
    the threshold, which suppresses hub vectors that plain cosine
    thresholds mis-mine. One best target per source, deterministic
    tie-breaks, all post-cosine arithmetic in exact integers, so the
    full miner sits under a value-hash oracle.

    Scale shape: this is the exact-scoring ANCHOR (pair count
    guarded at 10,000,000); the production path is
    sim_bitext_margin_shortlist, which feeds the same margin
    arithmetic from IVF candidate cells instead of A x B —
    neighborhood sums are then over the shortlist, as in CCMatrix.
    Margin windows shuffle only on src/tgt id equi-keys."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    a, b = _bitext_sides(emb)
    n_a, n_b = a.count(), b.count()
    if n_a * n_b > BITEXT_ANCHOR_MAX_PAIRS:
        raise ValueError(
            f"sim_bitext_margin is the exact-scoring anchor; refusing "
            f"{n_a} x {n_b} pairs (max {BITEXT_ANCHOR_MAX_PAIRS}); use "
            f"sim_bitext_margin_shortlist (IVF candidate generation) "
            f"at this scale"
        )
    cosv = _bitext_cos_ppm(
        a.drop("src_vec").crossJoin(F.broadcast(b.drop("tgt_vec")))
    )
    return _bitext_mine(cosv)


#: Shortlist geometry for the production miner: targets index into
#: WIDTH-RULED IVF cells (Lloyd-trained on the target side, n_cells ~
#: sqrt(|B|) — round 13; the fixed 16-cell config's candidate-recall@1
#: dipped to 0.719 at 8x while the rule holds >= 0.875 at every
#: measured scale), each source probes HALF the cells (the miner's
#: gate is recall@1, so it runs a denser probe fraction than the ANN
#: family's quarter; nprobe=n_cells/4 measured 0.703 at sf0.1 — flush
#: against the floor, rejected). The recall floor is the in-plan gate
#: against the exact anchor's mined pairs.
BITEXT_NPROBE_FRACTION = 2
BITEXT_NPROBE_FLOOR = 8


def bitext_cells(n_targets: int) -> int:
    """Width rule for the bitext target-side coarse quantizer — the
    ANN family's suggest_ivf_cells (floor 16 keeps the sf<=0.01
    fixtures, ~256 targets, on the historical 16-cell config)."""
    return S.suggest_ivf_cells(n_targets)


def bitext_nprobe(n_cells: int) -> int:
    """Probe count for a bitext index of ``n_cells`` cells — half the
    cells, floor 8. Derive from the STAGED index's len(centroids)."""
    return S.suggest_ivf_nprobe(
        n_cells, fraction=BITEXT_NPROBE_FRACTION, floor=BITEXT_NPROBE_FLOOR
    )


#: Measured shortlist pair-recall on the near-random fixture
#: embeddings: 0.86 / 0.79 / 0.82 at sf0.001/0.01/0.1 under the
#: historical fixed 16/8 config (random vectors spread their best
#: match across cells, the hard case for IVF; clustered production
#: embeddings concentrate it). The width rule leaves sf<=0.01
#: unchanged and RAISES sf0.1 (32 cells / 16 probes — see BASELINE.md
#: round-13 recall-vs-scale table). 0.70 is non-vacuous (probing a
#: quarter of the cells measured 0.56 and FAILS) with headroom
#: against fixture re-rolls.
BITEXT_RECALL_FLOOR = 0.70


def _bitext_recall_oracle() -> str:
    return (
        f"SELECT src_id, 1 AS recall_floor_ok FROM ({_bitext_oracle()})"
    )


@query("sim_bitext_margin_shortlist", oracle=_bitext_recall_oracle())
def sim_bitext_margin_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION path of margin-based bitext mining: candidate
    pairs come from IVF cells (targets assigned to their nearest
    Lloyd-trained cell, sources probing bitext_nprobe cells — the
    CCMatrix recipe) instead of the anchor's A x B, then the SAME
    quantization / cosine / ratio-margin arithmetic (_bitext_sides /
    _bitext_cos_ppm / _bitext_mine, shared code) mines one best
    target per source. Cost is sources x probed-cell mass, not
    |A| x |B|; the only wide shuffle keys on the cell id.

    Held to the ANN family's recall-gate contract: the exact anchor
    runs in-plan (the expensive half — the gate, not the product;
    production runs mined-only) and the result carries one row per
    ANCHOR-mined source with a global pair-recall floor flag, so the
    driver's value-hash comparison fails if shortlist mining ever
    recovers less than BITEXT_RECALL_FLOOR of the exact pairs.

    ANCHOR CONFIGURATION (round 12): the in-plan exact gate is
    |A| x |B| — fixture-affordable only, so this row is no longer
    lifecycle-benched and cannot run at production scale. The
    scale-runnable registered gate is sim_bitext_margin_mined
    (sampled anchor, O(sample x |B|)); the production plan is
    bitext_mined_pairs."""
    from gcd_etl_spark.operators.similarity import (
        ivf_cells_udf,
        train_coarse_centroids,
    )

    emb = read_table_spread(spark, sf_dir, "embeddings")
    a, b = _bitext_sides(emb)
    tgt_corpus = emb.where(F.col("label") % 2 == 1)
    # width-rule count on the PLAIN scan with the same target
    # predicate (round 13; see sim_ann_ivfsq8_recall)
    n_tgt = (
        read_table(spark, sf_dir, "embeddings")
        .where(F.col("label") % 2 == 1)
        .count()
    )
    centroids = train_coarse_centroids(
        tgt_corpus, n_cells=bitext_cells(n_tgt), dim=EMB_DIM
    )
    tgt = b.select(
        "tgt_id",
        "qb",
        "nb",
        F.element_at(ivf_cells_udf(centroids, 1)(F.col("tgt_vec")), 1).alias("cell"),
    )
    src = a.select(
        "src_id",
        "qa",
        "na",
        F.explode(
            ivf_cells_udf(centroids, bitext_nprobe(len(centroids)))(F.col("src_vec"))
        ).alias("cell"),
    )
    # A (src, tgt) pair meets in at most ONE cell (the target's), so
    # the candidate stream needs no dedup; broadcast the fanned-out
    # source probes (queries-sized), shuffle keys only on the cell.
    cand = tgt.join(F.broadcast(src), "cell").select(
        "src_id", "tgt_id", "qa", "na", "qb", "nb"
    )
    mined_short = _bitext_mine(_bitext_cos_ppm(cand)).select(
        "src_id", F.col("tgt_id").alias("short_tgt")
    )
    anchor = _bitext_mine(
        _bitext_cos_ppm(a.drop("src_vec").crossJoin(F.broadcast(b.drop("tgt_vec"))))
    ).select("src_id", "tgt_id")
    from pyspark.sql import Window as W

    hit = (
        anchor.join(mined_short, "src_id", "left")
        .select(
            "src_id",
            (F.col("short_tgt") == F.col("tgt_id")).cast("int").alias("hit"),
        )
        .fillna({"hit": 0})
    )
    w = W.partitionBy()  # anchor-mined set is small: global agg is tiny
    overall = F.sum("hit").over(w) / F.count(F.lit(1)).over(w)
    return hit.select(
        "src_id",
        (overall >= BITEXT_RECALL_FLOOR).cast("int").alias("recall_floor_ok"),
    )


def ensure_bitext_target_index(spark: SparkSession, sf_dir: str, b: DataFrame):
    """The persisted bitext TARGET-side index — the FAISS train-once
    posture applied to the miner: Lloyd-trained centroids (width-ruled
    cell count, bitext_cells) plus the quantized, cell-assigned target
    table staged once per (sf dir, data fingerprint), bucketed on the cell key the
    candidate join shuffles on. Mining runs (nightly source batches,
    re-mines with new thresholds) probe the staged index and never
    re-train, re-quantize, or re-assign the target side.

    ``b`` is the _bitext_sides target frame (tgt_id, tgt_vec, qb,
    nb). Returns (index_df, centroids_ndarray)."""
    import numpy as np

    from gcd_etl_spark.operators.similarity import (
        ivf_cells_udf,
        train_coarse_centroids,
    )
    from gcd_etl_spark.sources.catalog import ensure_staged, staged_name
    from gcd_etl_spark.sources.sinks import write_bucketed_table

    idx_base = staged_name("bitext_tgt_idx", sf_dir, "embeddings")
    # width-rule the target-side quantizer at (re)staging (round-13
    # item 1) and carry the config in the name so a differently-
    # configured index can never shadow this one. Probe-path name
    # resolution parses the suffix from the catalog (round-13
    # optimization pass — see _resolve_staged_cells); only STAGING
    # counts, re-applying the target predicate (label odd —
    # _bitext_sides) on the PLAIN scan (round-13 review finding).
    n_cells = _resolve_staged_cells(spark, f"{idx_base}_", bitext_cells)
    counted_rows = None
    if n_cells is None:
        counted_rows = (
            read_table(spark, sf_dir, "embeddings")
            .where(F.col("label") % 2 == 1)
            .count()
        )
        n_cells = bitext_cells(counted_rows)
    idx_name = f"{idx_base}_c{n_cells}"
    cent_name = staged_name("bitext_tgt_cent", sf_dir, "embeddings") + f"_c{n_cells}"

    def stage() -> None:
        trained = train_coarse_centroids(
            b.select(F.col("tgt_id").alias("vec_id"), F.col("tgt_vec").alias("embedding")),
            n_cells=n_cells,
            dim=EMB_DIM,
        )
        if trained.size == 0:
            spark.createDataFrame(
                [], "cell_id int, centroid array<double>"
            ).write.mode("overwrite").saveAsTable(cent_name)
            spark.createDataFrame(
                [], "tgt_id long, qb array<bigint>, nb bigint, cell int"
            ).write.mode("overwrite").saveAsTable(idx_name)
        else:
            spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(trained)],
                "cell_id int, centroid array<double>",
            ).write.mode("overwrite").saveAsTable(cent_name)
            assigned = b.select(
                "tgt_id",
                "qb",
                "nb",
                F.element_at(ivf_cells_udf(trained, 1)(F.col("tgt_vec")), 1).alias(
                    "cell"
                ),
            )
            from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

            # floor=8 keeps the historical fixture layout (16 cells
            # split 8 ways); scale still grows the count past 4x data
            write_bucketed_table(
                assigned,
                idx_name,
                ["cell"],
                n_buckets=suggest_bucket_count_for(sf_dir, "embeddings", floor=8),
                sort_cols=["cell"],
            )

    ensure_staged(spark, [idx_name, cent_name], stage)
    if counted_rows is not None:
        _stamp_staged_rows(spark, idx_name, counted_rows)
    # tiny trained artifact: collect unsorted, order driver-side on
    # the unique key (round 13 — see ensure_ivfsq8_index)
    cent_rows = sorted(
        spark.table(cent_name).collect(),
        key=lambda r: (r["cell_id"] is None, r["cell_id"]),
    )
    centroids = np.asarray([r["centroid"] for r in cent_rows], dtype=np.float64)
    return spark.table(idx_name), centroids


@query("sim_bitext_margin_persisted", oracle=_bitext_recall_oracle())
def sim_bitext_margin_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_bitext_margin_shortlist with the index lifecycle closed:
    the target side (Lloyd centroids + quantized cell-assigned
    vectors) is PERSISTED once (ensure_bitext_target_index,
    fingerprint-keyed, cell-bucketed) and every mining run probes the
    staged artifact — the target corpus is never re-trained,
    re-quantized, or re-assigned (the sim_ann_ivfpq_persisted
    discipline applied to the miner; at 100 TB the index IS storage
    and per-run cost is O(sources) + the probed cell mass). Same
    shared margin arithmetic, same in-plan exact-anchor recall gate;
    staged-file reuse and the candidate branch's index scan are
    pinned in pytest.

    ANCHOR CONFIGURATION (round 12): like the shortlist row, the
    in-plan |A| x |B| exact gate confines this registered form to
    fixture scale — kept as the full-anchor evidence row, not
    benched. Scale path: sim_bitext_margin_mined / bitext_mined_pairs
    (same persisted index, sampled gate)."""
    from pyspark.sql import Window as W

    from gcd_etl_spark.operators.similarity import ivf_cells_udf

    emb = read_table_spread(spark, sf_dir, "embeddings")
    a, b = _bitext_sides(emb)
    tgt, centroids = ensure_bitext_target_index(spark, sf_dir, b)
    if centroids.size == 0:
        return spark.createDataFrame([], "src_id long, recall_floor_ok int")
    src = a.select(
        "src_id",
        "qa",
        "na",
        F.explode(
            ivf_cells_udf(centroids, bitext_nprobe(len(centroids)))(F.col("src_vec"))
        ).alias("cell"),
    )
    cand = tgt.join(F.broadcast(src), "cell").select(
        "src_id", "tgt_id", "qa", "na", "qb", "nb"
    )
    mined_short = _bitext_mine(_bitext_cos_ppm(cand)).select(
        "src_id", F.col("tgt_id").alias("short_tgt")
    )
    anchor = _bitext_mine(
        _bitext_cos_ppm(a.drop("src_vec").crossJoin(F.broadcast(b.drop("tgt_vec"))))
    ).select("src_id", "tgt_id")
    hit = (
        anchor.join(mined_short, "src_id", "left")
        .select(
            "src_id",
            (F.col("short_tgt") == F.col("tgt_id")).cast("int").alias("hit"),
        )
        .fillna({"hit": 0})
    )
    w = W.partitionBy()  # anchor-mined set is small: global agg is tiny
    overall = F.sum("hit").over(w) / F.count(F.lit(1)).over(w)
    return hit.select(
        "src_id",
        (overall >= BITEXT_RECALL_FLOOR).cast("int").alias("recall_floor_ok"),
    )


# ----------------- mined-only production miner + sampled-anchor gate
#: The deterministic sampled anchor of sim_bitext_margin_mined: the
#: BITEXT_GATE_SAMPLE lowest-id sources, exact-scored against ALL
#: targets -- O(sample x |B|), LINEAR in the corpus, so the registered
#: gate is runnable at any scale (round-11 verdict item 4: the
#: shortlist/persisted forms' in-plan |A| x |B| anchors were 35% of
#: the lifecycle tier and unrunnable at 100x).
BITEXT_GATE_SAMPLE = 64
#: Candidate-recall@1 floor (percent): the fraction of sampled
#: sources whose EXACT top-1 cosine target is reached by the IVF
#: probe set. Measured at nprobe=8/16 cells: 0.891 / 0.797 / 0.797 at
#: sf0.001/0.01/0.1; nprobe=4 measures 0.656 / 0.625 and FAILS, so
#: 70 is non-vacuous with headroom against fixture re-rolls.
#: Candidate coverage is the right gated quantity: everything
#: downstream of candidates (scoring, margins, picks) is shared exact
#: integer code with the oracled anchor family -- candidate generation
#: is the only stage that can silently lose pairs.
BITEXT_SAMPLED_RECALL_FLOOR_PCT = 70


def bitext_mined_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION mined-only bitext miner: persisted target index
    (ensure_bitext_target_index), IVF candidate generation, shared
    exact margin arithmetic -- and NO in-plan exact gate at all. This
    is the plan a 100 TB mining run executes (cost: O(sources) + the
    probed cell mass; wide shuffles key on cell / src_id / tgt_id
    only) and the builder the lifecycle bench times under
    sim_bitext_margin_mined's name (the dedup_minhash_lsh
    twin-builder precedent). Quality contract lives in the registered
    gate queries: sampled candidate-recall@1 in
    sim_bitext_margin_mined (linear, every run), full exact anchors
    in the shortlist/persisted rows (fixture-guarded)."""
    from gcd_etl_spark.operators.similarity import ivf_cells_udf

    emb = read_table_spread(spark, sf_dir, "embeddings")
    a, b = _bitext_sides(emb)
    tgt, centroids = ensure_bitext_target_index(spark, sf_dir, b)
    if centroids.size == 0:
        return spark.createDataFrame(
            [], "src_id long, tgt_id long, cos_ppm long, margin_ppm long"
        )
    src = a.select(
        "src_id",
        "qa",
        "na",
        F.explode(
            ivf_cells_udf(centroids, bitext_nprobe(len(centroids)))(F.col("src_vec"))
        ).alias("cell"),
    )
    cand = tgt.join(F.broadcast(src), "cell").select(
        "src_id", "tgt_id", "qa", "na", "qb", "nb"
    )
    return _bitext_mine(_bitext_cos_ppm(cand))


def _bitext_sampled_gate_oracle() -> str:
    """Exact top-1-by-cosine per SAMPLED source (the lowest
    BITEXT_GATE_SAMPLE source ids, ties broken by tgt_id), flag
    constant 1: the registered plan must reproduce the sampled exact
    scoring value-for-value AND deterministically clear the
    candidate-recall floor."""
    pair_dot = " + ".join(f"p.qa[{i}] * p.qb[{i}]" for i in range(1, EMB_DIM + 1))
    self_dot = " + ".join(f"qv[{i}] * qv[{i}]" for i in range(1, EMB_DIM + 1))
    return f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
b AS (
  SELECT vec_id, label, qv, CAST({self_dot} AS BIGINT) AS nrm FROM e
),
samp AS (
  SELECT vec_id FROM b WHERE label % 2 = 0
  ORDER BY vec_id LIMIT {BITEXT_GATE_SAMPLE}
),
p AS (
  SELECT a.vec_id AS src_id, c.vec_id AS tgt_id,
         a.qv AS qa, c.qv AS qb, a.nrm AS na, c.nrm AS nb
  FROM b a JOIN b c ON a.label % 2 = 0 AND c.label % 2 = 1
   AND a.vec_id IN (SELECT vec_id FROM samp)
),
v AS (
  SELECT src_id, tgt_id, CAST({pair_dot} AS BIGINT) AS dot, na, nb
  FROM p
),
cosv AS (
  SELECT src_id, tgt_id,
         CAST(floor(CAST(dot AS DOUBLE)
                    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS cos_ppm
  FROM v WHERE dot > 0 AND na > 0 AND nb > 0
),
ranked AS (
  SELECT src_id, tgt_id, cos_ppm,
         ROW_NUMBER() OVER (PARTITION BY src_id
                            ORDER BY cos_ppm DESC, tgt_id) AS rk
  FROM cosv
)
SELECT src_id, tgt_id AS tgt_top1, cos_ppm AS cos_top1_ppm,
       1 AS recall_floor_ok
FROM ranked WHERE rk = 1
"""


@query("sim_bitext_margin_mined", oracle=_bitext_sampled_gate_oracle())
def sim_bitext_margin_mined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-RUNNABLE registered form of the bitext miner's
    quality gate (round-11 verdict item 4): candidate generation is
    the production path (persisted cell-bucketed target index, IVF
    probes), and the recall gate is a deterministic SAMPLED anchor --
    the BITEXT_GATE_SAMPLE lowest-id sources exact-scored against the
    whole target side (one broadcast of 64 sampled rows over one
    target scan, O(sample x |B|): linear, unlike the |A| x |B|
    anchors inside the shortlist/persisted rows, which stay
    registered as fixture-guarded ANCHOR configurations). Gated
    quantity: candidate-recall@1 -- did the probe set reach each
    sampled source's EXACT nearest target -- because candidate
    generation is the only stage not covered by shared exact integer
    code. Result carries the sampled exact top-1 (value-hashed) and
    the global floor flag; a best-by-struct aggregate replaces the
    per-source window so the gate's shuffle is one map-side-combinable
    agg keyed on src_id. Production mining itself (no gate in-plan)
    is bitext_mined_pairs -- the builder the lifecycle bench times
    under this name."""
    from pyspark.sql import Window as W

    from gcd_etl_spark.operators.similarity import ivf_cells_udf

    emb = read_table_spread(spark, sf_dir, "embeddings")
    a, b = _bitext_sides(emb)
    tgt, centroids = ensure_bitext_target_index(spark, sf_dir, b)
    if centroids.size == 0:
        return spark.createDataFrame(
            [],
            "src_id long, tgt_top1 long, cos_top1_ppm long, recall_floor_ok int",
        )
    # Probe cells ONLY for the sampled sources: the gate consumes
    # candidates solely for the <= BITEXT_GATE_SAMPLE anchor rows, so
    # fanning out the whole source side would pay full-corpus
    # candidate generation (and a data-sized broadcast) to check 64
    # rows (round-12 review finding). Candidate generation for the
    # sampled sources is the production code path bit-for-bit — same
    # centroids, same nprobe, same cell join — so the recall it
    # measures is the production path's.
    samp_src = a.orderBy("src_id").limit(BITEXT_GATE_SAMPLE)
    src = samp_src.select(
        "src_id",
        F.explode(
            ivf_cells_udf(centroids, bitext_nprobe(len(centroids)))(F.col("src_vec"))
        ).alias("cell"),
    )
    cand = tgt.join(F.broadcast(src), "cell").select("src_id", "tgt_id")
    samp = samp_src.drop("src_vec")
    cosv = _bitext_cos_ppm(b.drop("tgt_vec").crossJoin(F.broadcast(samp)))
    top1 = (
        cosv.groupBy("src_id")
        .agg(
            F.max(
                F.struct(F.col("cos_ppm"), (-F.col("tgt_id")).alias("neg_tgt"))
            ).alias("m")
        )
        .select(
            "src_id",
            (-F.col("m.neg_tgt")).alias("tgt_top1"),
            F.col("m.cos_ppm").alias("cos_top1_ppm"),
        )
    )
    hit = top1.join(
        cand.withColumnRenamed("tgt_id", "tgt_top1").withColumn("hit", F.lit(1)),
        ["src_id", "tgt_top1"],
        "left",
    ).fillna({"hit": 0})
    w = W.partitionBy()  # <= BITEXT_GATE_SAMPLE rows by construction
    ok = (
        F.sum("hit").over(w) * 100
        >= F.count(F.lit(1)).over(w) * BITEXT_SAMPLED_RECALL_FLOOR_PCT
    )
    return hit.select(
        "src_id",
        "tgt_top1",
        "cos_top1_ppm",
        ok.cast("int").alias("recall_floor_ok"),
    )
