"""Deduplication query plans over the ``documents`` / ``embeddings``
tables (SURVEY.md north-star, grown across rounds 1-12).

Families registered here: exact (hash-groupBy), MinHash-LSH bands
(+ persisted band index with append / compaction / merge / delta
lifecycle), SimHash, n-gram Jaccard exact anchors + connected-
component clusters, canonical-keep composition, cross-document span
dedup (Lee et al.; gram-DF index + delta + excision), semantic
SemDeDup (portable SRP LSH: anchor, width-scaled, occupancy-CAPPED
production lifecycle, nightly delta), the leakage-safe component-
keyed split, and MinHash-signature mergeability.

Oracle posture (current since round 10): EVERY registered query in
this module carries a FULL DuckDB value-hash oracle. The hash
families run on portable-md5-derived constants embedded identically
in both engines (the portable_hash64 stance) — the old
"xxhash64-based, rows-only check" era is over; the cheaper xxhash64
builds survive only as unregistered bench/production twins
(dedup_minhash_lsh_xxhash) pinned to the same candidate-generation
code path in pytest. Semantics are additionally pinned by
tests/test_dedup.py property tests (LSH candidates ⊇ high-Jaccard
pairs, identical-vector cap limits, etc.).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.operators import dedup as D
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table, read_table_spread

_DUCK_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_DUCK_SHINGLES = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')))"
    " ELSE [] END"
)


@query(
    "dedup_exact",
    oracle=f"""
SELECT md5({_DUCK_NORM}) AS content_hash,
       min(doc_id)       AS keep_id,
       count(*)          AS n_dups
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: normalize -> md5 -> groupBy(hash)."""
    docs = read_table_spread(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


#: Hard ceiling for the exact-Jaccard quadratic anchors
#: (dedup_ngram_jaccard pair finding and the dedup_clusters component
#: step built on it). They are correctness oracles for the LSH family,
#: NOT scale paths: an unconditional all-pairs broadcast theta-join at
#: 100 TB is a cluster-killer, so — like sim_embedding_neardup
#: (plans/similarity.py) and neardup_pairs_blas
#: (operators/similarity.py) — the plan refuses to build beyond this
#: corpus size and points at the sub-quadratic production composition.
JACCARD_ANCHOR_MAX_DOCS = 100_000


def _guard_quadratic_anchor(docs: DataFrame, name: str) -> None:
    """Refuse to build the O(n^2) exact-Jaccard anchor beyond
    JACCARD_ANCHOR_MAX_DOCS documents, naming the registered
    sub-quadratic production path (dedup_keep_canonical: LSH candidate
    generation -> exact verify -> connected components, every stage
    shuffling on equi-keys) so the error is actionable."""
    n = docs.count()
    if n > JACCARD_ANCHOR_MAX_DOCS:
        raise ValueError(
            f"{name} is an O(n^2) all-pairs correctness anchor, refusing "
            f"{n} documents (max {JACCARD_ANCHOR_MAX_DOCS}); use the "
            "sub-quadratic production path dedup_keep_canonical "
            "(MinHash-LSH candidates -> exact-Jaccard verify -> "
            "connected components) at this scale"
        )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth near-dup pairs: exact word-3-shingle Jaccard >= 0.5
    over all pairs. Quadratic by construction — the correctness anchor
    the LSH operators are validated against, not the scale path.
    Size-guarded: refuses corpora beyond JACCARD_ANCHOR_MAX_DOCS."""
    docs = read_table_spread(spark, sf_dir, "documents")
    _guard_quadratic_anchor(docs, "dedup_ngram_jaccard")
    from gcd_etl_spark.functions.text import shingles

    s = docs.select(F.col("doc_id").alias("_sid"), F.expr(shingles("text", 3)).alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(F.broadcast(b), F.col("a._sid") < F.col("b._sid"))
        .where((union > 0) & (jac >= 0.5))
        .select(
            F.col("a._sid").alias("id_a"),
            F.col("b._sid").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0
    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the >=0.5-Jaccard
    near-dup graph (min-label propagation; the oracle states the same
    components via a recursive CTE). The step after pair finding in a
    real corpus-curation pipeline — keep one doc per cluster_id.
    Size-guarded like its pair-finding sibling: this is the exact
    anchor that validates dedup_keep_canonical, and beyond
    JACCARD_ANCHOR_MAX_DOCS it refuses and names that registered
    sub-quadratic composition as the production path."""
    docs = read_table_spread(spark, sf_dir, "documents")
    _guard_quadratic_anchor(docs, "dedup_clusters")
    from gcd_etl_spark.functions.text import shingles

    s = docs.select(F.col("doc_id").alias("_sid"), F.expr(shingles("text", 3)).alias("sh"))
    a, b = s.alias("a"), s.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    pairs = (
        a.join(F.broadcast(b), F.col("a._sid") < F.col("b._sid"))
        .where((union > 0) & (jac >= 0.5))
        .select(F.col("a._sid").alias("id_a"), F.col("b._sid").alias("id_b"))
    )
    return D.connected_components(pairs, docs, id_col="doc_id")


def dedup_minhash_lsh_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs on the cheaper xxhash64 hash family
    — the production/bench variant, deliberately UNREGISTERED
    (round-9 verdict item 3: every registered query carries a value
    oracle; xxhash64 has no DuckDB restatement). Same candidate
    generation as the registered dedup_minhash_lsh (pinned by
    tests/test_round7.py twin test); its plan shape is gated under
    the ``dedup_minhash_lsh::bench_twin`` fingerprint key."""
    docs = read_table_spread(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _portable_band_ctes(num_hashes: int = 32, bands: int = 8) -> str:
    """Shared DuckDB CTE chain (shingles -> md5 base hash -> minhash
    signature -> band hashes) used by every portable-MinHash oracle,
    so the self-join and delta-vs-corpus oracles cannot drift from
    each other (they differ only in the candidate predicate)."""
    p = (1 << 61) - 1
    rpb = num_hashes // bands
    sig_elems = ", ".join(
        f"list_min(list_transform(hv, h -> ({2 * i + 1} * h + {1_000_003 * (i + 1)}) % {p}))"
        for i in range(num_hashes)
    )
    band_structs = ", ".join(
        f"struct_pack(i := {b}, h := md5(array_to_string("
        f"list_slice(sig, {b * rpb + 1}, {b * rpb + rpb}), ',')))"
        for b in range(bands)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM t
), hv AS (
  SELECT doc_id, sh,
         list_transform(sh, g ->
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4294967296) AS hv
  FROM s WHERE len(sh) > 0
), sig AS (
  SELECT doc_id, sh, [{sig_elems}] AS sig FROM hv
), bands AS (
  SELECT doc_id, band.i AS band_idx, band.h AS band_hash
  FROM (SELECT doc_id, unnest([{band_structs}]) AS band FROM sig)
)"""


def _portable_minhash_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """The ENTIRE MinHash-LSH pipeline restated in DuckDB SQL: same
    md5-derived base hash, same (a*h+b) mod p permutation family, same
    banding and Jaccard verify — exact value parity, not a smoke
    check."""
    return _portable_band_ctes(num_hashes, bands) + """
, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
         AS jaccard
FROM cand c
JOIN s sa ON c.id_a = sa.doc_id
JOIN s sb ON c.id_b = sb.doc_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
"""


@query("dedup_minhash_lsh", oracle=_portable_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (32 hashes, 8 bands) verified with
    exact Jaccard >= 0.5 — the sub-quadratic scale path, on the
    engine-portable md5-derived hash family, which DuckDB restates
    exactly: banding, candidate generation, and the Jaccard verify are
    all under the driver's value-hash oracle. Registered DEFAULT since
    round 10 (verdict item 3: the old xxhash64 default could never be
    driver-greened); the cheaper xxhash64 production variant lives on
    as the unregistered dedup_minhash_lsh_xxhash (plan-fingerprinted; the
    twin pin in tests/test_round7.py keeps their candidate generation
    shared). Formerly registered as dedup_minhash_portable."""
    docs = read_table_spread(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5, portable=True)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


#: doc_id % DELTA_MOD == 0 -> "tonight's delta"; everything else is
#: the standing corpus whose LSH band index is already on disk.
DELTA_MOD = 7


def _delta_vs_corpus_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Delta-vs-corpus dedup restated in DuckDB: identical signature /
    band CTEs as _portable_minhash_oracle (shared builder), candidate
    predicate = one side delta, other side corpus."""
    return _portable_band_ctes(num_hashes, bands) + f"""
, cand AS (
  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
  FROM bands d JOIN bands c
    ON d.band_idx = c.band_idx AND d.band_hash = c.band_hash
  WHERE d.doc_id % {DELTA_MOD} = 0 AND c.doc_id % {DELTA_MOD} <> 0
)
SELECT cand.delta_id, cand.corpus_id,
       ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
         AS jaccard
FROM cand
JOIN s sa ON cand.delta_id = sa.doc_id
JOIN s sb ON cand.corpus_id = sb.doc_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
"""


def ensure_corpus_band_index(
    spark: SparkSession, sf_dir: str, corpus_docs: DataFrame
) -> DataFrame:
    """The persisted corpus LSH band index, staged once per sf dir as
    a band_hash-bucketed table (ingest-side cost, idempotent) and read
    back on every use. Shared by the nightly delta path
    (dedup_delta_vs_corpus) and its streaming form
    (stream_dedup_against_corpus) so the two can never index
    differently."""
    import os as _os
    import re as _re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.sinks import (
        suggest_bucket_count_for,
        write_bucketed_table,
    )

    from gcd_etl_spark.sources.catalog import table_fingerprint

    tag = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(sf_dir.rstrip("/")))
    # Staleness key (round-10 ADVICE): the staged name carries a
    # fingerprint of the documents table's data files, so a changed
    # corpus under the same sf_dir — or a different sf_dir sharing a
    # basename — can never be served a stale index.
    name = f"corpus_band_idx_{tag}_{table_fingerprint(sf_dir, 'documents')}"
    if not spark.catalog.tableExists(name):
        warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        _shutil.rmtree(_os.path.join(warehouse, name.lower()), ignore_errors=True)
        corpus_bands = D.minhash_band_table(corpus_docs, portable=True).select(
            F.col("_id").alias("corpus_id"), "band_idx", "band_hash"
        )
        write_bucketed_table(
            corpus_bands,
            name,
            ["band_hash"],
            # bucket count scales with the corpus (round-7 lesson: a
            # fixed 16 caps parallelism at ~4x data)
            n_buckets=suggest_bucket_count_for(sf_dir, "documents"),
            sort_cols=["band_hash"],
        )
    return spark.table(name)


@query("dedup_delta_vs_corpus", oracle=_delta_vs_corpus_oracle())
def dedup_delta_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: which NEW documents (tonight's delta,
    ``doc_id % DELTA_MOD == 0``) already near-duplicate something in
    the standing corpus — WITHOUT re-self-joining the corpus.

    This is the nightly production shape at 100 TB: you never re-dedup
    the whole corpus; its LSH band index (operators/dedup.
    minhash_band_table — the same banded signatures the self-join path
    uses) is PERSISTED once at ingest, bucketed by band_hash, and each
    night only the delta is shingled/hashed. The candidate join
    broadcasts the delta's band rows against the index scan, so the
    corpus side never shuffles and never recomputes signatures —
    per-night cost is O(delta) + one index scan, independent of how
    the corpus grew. (For a delta too big to broadcast, the fallback
    is a sort-merge join against the bucketed index where still only
    the delta side exchanges.) Delta-internal duplicates are
    deliberately out of scope here — that's the standard self-join
    path (portable dedup_minhash_lsh) run on the delta alone.

    Portable md5 hash family end-to-end, so banding, candidate
    generation, and the exact-Jaccard verify all sit under the DuckDB
    value-hash oracle. Plan shape pinned by tests/test_round9.py:
    corpus index is read from the staged table (no signature
    recomputation in-plan) and the band join is a broadcast of the
    delta side."""
    docs = read_table_spread(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    idx = ensure_corpus_band_index(spark, sf_dir, docs.where(~is_delta))
    # --- nightly delta path: hash only the delta, broadcast its bands
    delta_bands = D.minhash_band_table(docs.where(is_delta), portable=True).select(
        F.col("_id").alias("delta_id"), "band_idx", "band_hash"
    )
    cand = (
        F.broadcast(delta_bands)
        .join(idx, ["band_idx", "band_hash"])
        .select(F.col("delta_id").alias("id_a"), F.col("corpus_id").alias("id_b"))
        .distinct()
    )
    # verify: every id_a is a delta id, so the a-side shingles only
    # the delta frame instead of the whole corpus (round 13 — the
    # default shingled ALL docs on BOTH sides of the verify join;
    # the b-side stays corpus-wide because id_b is a corpus id)
    verified = D.jaccard_pairs(
        docs, cand, threshold=0.5, sets_a=D.shingle_sets(docs.where(is_delta))
    )
    return verified.select(
        F.col("id_a").alias("delta_id"),
        F.col("id_b").alias("corpus_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _minhash_closure_ctes(num_hashes: int = 32, bands: int = 8) -> str:
    """The portable-MinHash candidate -> verify -> transitive-closure
    CTE chain, shared by every oracle that consumes near-dup
    COMPONENTS (keep_canonical's retention, the leakage-safe split)
    so the two restatements cannot drift."""
    ctes = _portable_band_ctes(num_hashes, bands).replace(
        "WITH t AS", "WITH RECURSIVE t AS", 1
    )
    return ctes + """
, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
), pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN s sa ON c.id_a = sa.doc_id
  JOIN s sb ON c.id_b = sb.doc_id
  WHERE len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) > 0
    AND CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
)"""


def _keep_canonical_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Retention restated in DuckDB: the portable-MinHash CTE chain
    (shared builder — same bands, same verify) feeds a recursive-CTE
    transitive closure; canonical = min doc_id per component."""
    return _minhash_closure_ctes(num_hashes, bands) + """
SELECT id AS doc_id, min(label) AS cluster_id,
       (id = min(label)) AS is_kept
FROM reach GROUP BY id
"""


@query("dedup_keep_canonical", oracle=_keep_canonical_oracle())
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETAINED corpus after near-dedup — the step every curation
    pipeline actually ships: LSH candidate pairs (portable MinHash
    family) -> exact-Jaccard verify -> connected components -> keep
    exactly one canonical document per duplicate cluster (min doc_id;
    swap the min for a quality-score argmax in production — same
    plan). Output is one row per document: (doc_id, cluster_id,
    is_kept); downstream corpus = ``WHERE is_kept``.

    Scale shape: candidate generation shuffles only on band-bucket
    keys (never document pairs), the verify joins only the candidate
    fraction of n^2, and component propagation is the driver-loop
    min-label operator (operators/dedup.connected_components) whose
    O(log n)-round star-contraction twin is the 100 TB path. Unlike
    dedup_clusters (exact all-pairs anchor, broadcast quadratic),
    THIS plan's every stage is sub-quadratic — it is the production
    composition, and the full pipeline (banding, verify, closure,
    retention) sits under one DuckDB value-hash oracle."""
    docs = read_table_spread(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5, portable=True).select(
        "id_a", "id_b"
    )
    comp = D.connected_components(pairs, docs, id_col="doc_id")
    return comp.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_kept"),
    )


def _neardup_split_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """The leakage-safe split restated in DuckDB: the shared closure
    chain, then data_split_deterministic's Knuth multiplicative hash
    applied to the COMPONENT label instead of the row id."""
    return _minhash_closure_ctes(num_hashes, bands) + """
, comp AS (
  SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
)
SELECT doc_id, cluster_id,
       CASE WHEN (cluster_id * 2654435761) % 4294967296 * 100
                 // 4294967296 < 80 THEN 'train'
            WHEN (cluster_id * 2654435761) % 4294967296 * 100
                 // 4294967296 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM comp
"""


@query("data_split_neardup_safe", oracle=_neardup_split_oracle())
def data_split_neardup_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split whose unit is the DISCOVERED near-dup
    component, not the row: LSH candidates -> exact-Jaccard verify ->
    connected components (dedup_keep_canonical's derivation), then
    data_split_deterministic's Knuth-hash 80/10/10 applied to the
    component label — so a document and ALL its near-duplicates land
    in the same split by construction. This is the eval-hygiene split
    a trained-model benchmark needs: the row-hash split
    (data_split_deterministic) leaks near-duplicate pairs across the
    boundary, and the entity split (data_split_grouped) only guards
    keys you already know about; near-dup leakage has no explicit
    key until the components are computed.

    Scale shape: identical to dedup_keep_canonical (band-bucket
    shuffles, candidate-fraction verify, log-round component
    propagation) plus a free projection — the split decision is pure
    integer arithmetic on the component label, no extra exchange."""
    docs = read_table_spread(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5, portable=True).select(
        "id_a", "id_b"
    )
    comp = D.connected_components(pairs, docs, id_col="doc_id")
    h = (F.col("cluster_id") * F.lit(2654435761)) % F.lit(4294967296)
    bucket = F.floor(h * 100 / F.lit(4294967296)).cast("int")
    return comp.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


#: Span-dedup keep/drop ceiling: docs whose 5-token windows are >30%
#: occupied by grams that also appear verbatim in ANOTHER document get
#: flagged (boilerplate, mirrored pages, licence walls).
CROSSDOC_SHARED_PPM_MAX = 300_000

_CROSSDOC_K = 5


def _crossdoc_oracle_sql(population: str = "TRUE") -> str:
    """The cross-doc span scorer restated in DuckDB, parameterized by
    a POPULATION filter (which documents exist when gram document
    frequencies are counted) — shared by the full recompute
    (population = everything), the nightly delta restriction, and the
    two-night index-update cycle, so the three oracles cannot drift."""
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE {population}
), g AS (
  SELECT doc_id,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])
           AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_CROSSDOC_K - 2}))
          AS i
        FROM t WHERE len(toks) >= {_CROSSDOC_K})
), c AS (
  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
), cd AS (
  SELECT doc_id, cnt, count(*) OVER (PARTITION BY gram) AS n_docs FROM c
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
         AS shared_slots,
       CAST(sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) * 1000000
            // sum(cnt) AS BIGINT) AS shared_ppm,
       (sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) * 1000000
        // sum(cnt)) <= {CROSSDOC_SHARED_PPM_MAX} AS keep
FROM cd GROUP BY doc_id
"""


_CROSSDOC_ORACLE = _crossdoc_oracle_sql()


def _crossdoc_gram_table(docs: DataFrame) -> DataFrame:
    """(doc_id, gram): every _CROSSDOC_K-token window of every doc
    with >= k tokens — the shared gram derivation for the full
    recompute (dedup_crossdoc_spans), the persisted gram-DF index
    build, and the nightly delta scorer, so the three can never
    tokenize differently. Both higher-order projections reach the JVM
    as SQL text, one call each."""
    k = _CROSSDOC_K
    window = ", ".join(f"element_at(toks, i + {j})" for j in range(k))
    d = docs.selectExpr("doc_id", "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS toks")
    return d.where(F.size("toks") >= k).selectExpr(
        "doc_id",
        f"explode(transform(sequence(1, size(toks) - {k - 1}), i -> concat_ws(' ', {window}))) AS gram",
    )


@query("dedup_crossdoc_spans", oracle=_CROSSDOC_ORACLE)
def dedup_crossdoc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SPAN detection — the distributed form
    of exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): per document, the fraction of
    5-token window slots whose exact text also occurs in at least one
    OTHER document. Whole-doc dedup (exact/MinHash) misses this —
    mirrored boilerplate, licence headers and templated pages share
    long verbatim spans inside otherwise-distinct documents; this is
    the signal used to excise or down-weight them.

    Three shuffles, all on bounded keys: window explode ->
    groupBy(doc_id, gram) with map-side partials; ONE gram-keyed
    exchange where a count-over-partition window computes each gram's
    document frequency (deliberately a window, not a groupBy+self-join
    back onto the same table — that shape re-shuffles the gram table
    twice); then the per-doc re-aggregate. All-integer output (ppm by
    truncating div; both operands >= 0, where Spark's ``div`` and
    DuckDB's ``//`` agree exactly). At 100 TB the gram exchange is the
    big one and it's embarrassingly key-parallel; production adds a
    df>=2 frequency pre-filter via a CountMinSketch broadcast to skip
    singleton grams before the exchange — plan shape unchanged."""
    from pyspark.sql import Window

    docs = read_table_spread(spark, sf_dir, "documents")
    g = _crossdoc_gram_table(docs)
    c = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    cd = c.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    shared_cnt = F.when(F.col("n_docs") >= 2, F.col("cnt")).otherwise(F.lit(0))
    m = cd.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_windows"),
        F.sum(shared_cnt).alias("shared_slots"),
    )
    ppm = F.expr("shared_slots * 1000000 div n_windows")
    return m.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("shared_slots").cast("long").alias("shared_slots"),
        ppm.cast("long").alias("shared_ppm"),
        (ppm <= CROSSDOC_SHARED_PPM_MAX).alias("keep"),
    )


def ensure_gram_df_index(
    spark: SparkSession, sf_dir: str, corpus_docs: DataFrame
) -> DataFrame:
    """The persisted gram document-frequency index for span dedup —
    the lifecycle fix for round-9 verdict item 5: dedup_crossdoc_spans
    re-derived gram DF from the WHOLE corpus every run; nightly
    production should tokenize the standing corpus ONCE, persist
    (gram, df) as a gram-bucketed table, and score each night's delta
    against it (the ensure_corpus_band_index pattern applied to the
    Lee-et-al exact-substring scorer). Staged once per (sf dir, data
    fingerprint), idempotent; df = number of distinct corpus docs
    containing the gram."""
    import os as _os
    import re as _re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.catalog import table_fingerprint
    from gcd_etl_spark.sources.sinks import (
        suggest_bucket_count_for,
        write_bucketed_table,
    )

    tag = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(sf_dir.rstrip("/")))
    name = f"gram_df_idx_{tag}_{table_fingerprint(sf_dir, 'documents')}"
    if not spark.catalog.tableExists(name):
        warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        _shutil.rmtree(_os.path.join(warehouse, name.lower()), ignore_errors=True)
        gdf = (
            _crossdoc_gram_table(corpus_docs)
            .groupBy("gram")
            .agg(F.count_distinct("doc_id").alias("df"))
        )
        write_bucketed_table(
            gdf,
            name,
            ["gram"],
            n_buckets=suggest_bucket_count_for(sf_dir, "documents"),
            sort_cols=["gram"],
        )
    return spark.table(name)


def _score_delta_grams(c: DataFrame, idx: DataFrame) -> DataFrame:
    """Score a delta's per-(doc, gram) window counts ``c`` against a
    persisted gram-DF index ``idx`` (gram, df — MAY hold several rows
    per gram after nightly appends; they sum). Shared by the one-shot
    nightly query and the two-night update cycle so the two can never
    score differently. The index-side aggregation after the probe is
    zero-exchange (the index is gram-bucketed)."""
    gset = c.groupBy("gram").agg(F.count(F.lit(1)).alias("df_delta"))
    hits = (
        idx.join(F.broadcast(gset.select("gram")), "gram")
        .groupBy("gram")
        .agg(F.sum("df").alias("df_corpus"))
    )
    tot = gset.join(hits, "gram", "left").select(
        "gram",
        (F.col("df_delta") + F.coalesce(F.col("df_corpus"), F.lit(0))).alias(
            "df_total"
        ),
    )
    cd = c.join(F.broadcast(tot), "gram")
    shared_cnt = F.when(F.col("df_total") >= 2, F.col("cnt")).otherwise(F.lit(0))
    m = cd.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_windows"),
        F.sum(shared_cnt).alias("shared_slots"),
    )
    ppm = F.expr("shared_slots * 1000000 div n_windows")
    return m.select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("shared_slots").cast("long").alias("shared_slots"),
        ppm.cast("long").alias("shared_ppm"),
        (ppm <= CROSSDOC_SHARED_PPM_MAX).alias("keep"),
    )


def _delta_gram_counts(delta_docs: DataFrame) -> DataFrame:
    """One tokenize pass over a delta: per-(doc, gram) window counts,
    checkpointed (the counts feed the gram-set probe, the df_delta
    agg, and the final score join — without materialization each
    would re-scan and re-window the delta text; delta-sized nightly
    state, the kmeans_fit trick)."""
    return (
        _crossdoc_gram_table(delta_docs)
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )


_CROSSDOC_DELTA_ORACLE = (
    f"SELECT * FROM ({_CROSSDOC_ORACLE}) WHERE doc_id % {DELTA_MOD} = 0"
)


@query("dedup_crossdoc_delta", oracle=_CROSSDOC_DELTA_ORACLE)
def dedup_crossdoc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental span dedup: score TONIGHT'S delta documents
    (``doc_id % DELTA_MOD == 0``) for cross-document repeated spans
    WITHOUT re-tokenizing the standing corpus — per-night cost is
    O(delta) plus one probe of the persisted gram-DF index.

    A delta gram is "shared" when its total document frequency —
    corpus df (from the index) + distinct delta docs containing it —
    is >= 2, exactly the full recompute's criterion, so the emitted
    rows value-hash-match dedup_crossdoc_spans restricted to the
    delta (the oracle IS that restriction). Shuffle inventory: two
    delta-sized gram groupBys, ONE probe of the bucketed index with
    the delta's gram set broadcast (the corpus side is a pushed-filter
    scan of the staged table — pinned in tests/test_round10.py), and
    the per-doc re-aggregate. The corpus text is never read: the only
    documents.parquet scan in the plan is the delta's."""
    docs = read_table_spread(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    idx = ensure_gram_df_index(spark, sf_dir, docs.where(~is_delta))
    return _score_delta_grams(_delta_gram_counts(docs.where(is_delta)), idx)


def _gram_update_cycle_oracle() -> str:
    """Two-night oracle: night 1 scored against a world of (corpus +
    night 1) — night 2 does not exist yet; night 2 scored against
    everything. Both nights are _crossdoc_oracle_sql with the
    population the index held AT SCORING TIME."""
    corpus_or_n1 = f"doc_id % {DELTA_MOD} <> 0 OR doc_id % {2 * DELTA_MOD} = 0"
    return f"""
SELECT 1 AS night, * FROM ({_crossdoc_oracle_sql(corpus_or_n1)})
WHERE doc_id % {2 * DELTA_MOD} = 0
UNION ALL
SELECT 2 AS night, * FROM ({_crossdoc_oracle_sql()})
WHERE doc_id % {DELTA_MOD} = 0 AND doc_id % {2 * DELTA_MOD} <> 0
"""


@query("dedup_gram_index_update_cycle", oracle=_gram_update_cycle_oracle())
def dedup_gram_index_update_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPDATE path of the gram-DF index lifecycle — the span-dedup
    analog of dedup_index_append_cycle: after night 1's delta is
    scored, its per-gram document frequencies are APPENDED to the
    bucketed index (bucket spec unchanged), so night 2's scoring sees
    corpus + night 1 — without the append, a night-2 page sharing
    spans only with a night-1 page would score shared_ppm 0 and sail
    through the gate. Appends mean a gram can hold SEVERAL index rows
    (one per generation); the probe sums them (zero-exchange: the agg
    runs on the gram-bucketed table) — and dedup_index_compaction is
    the maintenance operator that merge-rewrites the generations back
    to one row set per bucket. Night-1 scores are eagerly
    materialized BEFORE the append. Cycle table rebuilt per run BY
    DESIGN (the subject is the update; the amortized staged-once
    contract is dedup_crossdoc_delta's pin)."""
    import os as _os
    import re as _re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.sinks import write_bucketed_table

    docs = read_table_spread(spark, sf_dir, "documents")
    m2 = 2 * DELTA_MOD
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    is_n1 = F.col("doc_id") % m2 == 0
    is_n2 = is_delta & ~is_n1

    tag = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(sf_dir.rstrip("/")))
    name = f"gram_df_idx_cycle_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    _shutil.rmtree(_os.path.join(warehouse, name.lower()), ignore_errors=True)
    corpus_gdf = (
        _crossdoc_gram_table(docs.where(~is_delta))
        .groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

    # scale-derived bucket count; the append below MUST reuse it (a
    # bucketed append with a different count would corrupt co-location)
    nb = suggest_bucket_count_for(sf_dir, "documents")
    write_bucketed_table(corpus_gdf, name, ["gram"], n_buckets=nb, sort_cols=["gram"])

    c1 = _delta_gram_counts(docs.where(is_n1))
    v1 = _score_delta_grams(c1, spark.table(name)).localCheckpoint(eager=True)
    # night 1's gram DFs land as a new generation: one row per gram,
    # df = distinct night-1 docs (c1 is one row per doc-gram already)
    write_bucketed_table(
        c1.groupBy("gram").agg(F.count(F.lit(1)).alias("df")),
        name,
        ["gram"],
        n_buckets=nb,
        sort_cols=["gram"],
        mode="append",
    )
    v2 = _score_delta_grams(_delta_gram_counts(docs.where(is_n2)), spark.table(name))
    return v1.select(F.lit(1).alias("night"), "*").unionByName(
        v2.select(F.lit(2).alias("night"), "*")
    )


_EXCISION_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, i,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])
           AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_CROSSDOC_K - 2}))
          AS i
        FROM t WHERE len(toks) >= {_CROSSDOC_K})
), sh AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT g.doc_id, u.p
  FROM g JOIN sh USING (gram), unnest(range(g.i, g.i + {_CROSSDOC_K})) AS u(p)
), tok AS (
  SELECT t.doc_id, u.p, t.toks[u.p] AS tk
  FROM t, unnest(range(1, len(t.toks) + 1)) AS u(p)
), kept AS (
  SELECT tok.doc_id, tok.p, tok.tk
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
  WHERE cov.p IS NULL
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - COUNT(kept.tk) AS BIGINT) AS n_removed,
       md5(string_agg(kept.tk, ' ' ORDER BY kept.p)) AS clean_md5
FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
GROUP BY t.doc_id, len(t.toks)
"""


@query("dedup_span_excision", oracle=_EXCISION_ORACLE)
def dedup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMEDIATION half of cross-document span dedup:
    dedup_crossdoc_spans scores how much of a document recurs verbatim
    elsewhere; this operator actually EXCISES those spans — every
    token covered by any {_CROSSDOC_K}-gram that appears in >= 2
    distinct documents is removed, and the cleaned token stream is
    emitted as an md5 (plus exact removal counts), which is what a
    curation pipeline writes back (Lee et al. 2022 excise duplicated
    spans rather than dropping whole documents).

    Shuffle inventory, all bounded keys: one gram-keyed exchange for
    the shared-gram set (COUNT(DISTINCT doc) >= 2 — a groupBy, never
    a self-join), a (doc, position)-keyed distinct for span coverage,
    one LEFT-ANTI join of the token stream against covered positions,
    and the per-doc reassembly groupBy. Reassembly order is carried
    by the token position through a sorted-struct collect_list — the
    same total-order trick the credits pipeline uses (gcd/credits.py)
    — so the cleaned text is deterministic under any shuffle
    schedule. NULL clean_md5 = nothing kept (fully-duplicated doc) or
    an empty doc; both engines agree by construction."""
    docs = read_table_spread(spark, sf_dir, "documents")
    k = _CROSSDOC_K
    t = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("toks"),
    )
    g = (
        t.where(F.size("toks") >= k)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - (k - 1))).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.concat_ws(
                " ", *[F.element_at("toks", F.col("i") + j) for j in range(k)]
            ).alias("gram"),
        )
    )
    shared = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    cov = (
        g.join(shared, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (k - 1))).alias("p"),
        )
        .distinct()
    )
    tok = t.select(
        "doc_id", F.posexplode("toks").alias("p0", "tk")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tk")
    kept = tok.join(cov, ["doc_id", "p"], "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tk"))),
                    lambda s: s.getField("tk"),
                ),
            )
        ).alias("clean_md5"),
    )
    return (
        t.select("doc_id", F.size("toks").alias("n_tokens"))
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            "clean_md5",
        )
    )


def _index_append_cycle_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Two-night index lifecycle restated in DuckDB: night 1's delta
    (doc_id % 14 == 0) probes the corpus-only index; night 2's delta
    (doc_id % 14 == 7) probes corpus PLUS night-1 docs — the
    night-2-vs-night-1 pairs are exactly what an append-less index
    would miss."""
    m2 = 2 * DELTA_MOD
    return _portable_band_ctes(num_hashes, bands) + f"""
, cand AS (
  SELECT 1 AS night, d.doc_id AS delta_id, c.doc_id AS other_id
  FROM bands d JOIN bands c
    ON d.band_idx = c.band_idx AND d.band_hash = c.band_hash
  WHERE d.doc_id % {m2} = 0 AND c.doc_id % {DELTA_MOD} <> 0
  UNION
  SELECT 2, d.doc_id, c.doc_id
  FROM bands d JOIN bands c
    ON d.band_idx = c.band_idx AND d.band_hash = c.band_hash
  WHERE d.doc_id % {m2} = {DELTA_MOD}
    AND (c.doc_id % {DELTA_MOD} <> 0 OR c.doc_id % {m2} = 0)
)
SELECT cand.night, cand.delta_id, cand.other_id,
       ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
         AS jaccard
FROM cand
JOIN s sa ON cand.delta_id = sa.doc_id
JOIN s sb ON cand.other_id = sb.doc_id
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
"""


@query("dedup_index_append_cycle", oracle=_index_append_cycle_oracle())
def dedup_index_append_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPDATE path of the persisted-index dedup lifecycle, which
    dedup_delta_vs_corpus deliberately leaves open: after a night's
    delta is deduped, its band rows are APPENDED to the bucketed
    index, so the NEXT night's delta is checked against corpus +
    night-1 — without the append, tonight's dup of yesterday's doc
    sails through. Simulated as two nights (delta split by
    doc_id % 14): night 1 probes the corpus-only index, its bands
    land via a bucketed APPEND (bucket spec unchanged, so the
    equi-join co-location property survives updates), night 2 probes
    the updated table and its verdicts include night-2-vs-night-1
    pairs — the rows the oracle proves an append-less index would
    miss. Night-1 verdicts are eagerly materialized BEFORE the append
    (a lazy plan would re-resolve the table's files after the append
    and see night-1's own bands). This cycle table is rebuilt per run
    BY DESIGN — the amortized staged-once contract is
    dedup_delta_vs_corpus's pin; this query's subject is the append
    itself."""
    import os as _os
    import re as _re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.sinks import write_bucketed_table

    docs = read_table_spread(spark, sf_dir, "documents")
    m2 = 2 * DELTA_MOD
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    is_n1 = F.col("doc_id") % m2 == 0
    is_n2 = is_delta & ~is_n1

    tag = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(sf_dir.rstrip("/")))
    name = f"corpus_band_idx_cycle_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    _shutil.rmtree(_os.path.join(warehouse, name.lower()), ignore_errors=True)
    corpus_bands = D.minhash_band_table(docs.where(~is_delta), portable=True).select(
        F.col("_id").alias("corpus_id"), "band_idx", "band_hash"
    )
    from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

    nb = suggest_bucket_count_for(sf_dir, "documents")
    write_bucketed_table(
        corpus_bands, name, ["band_hash"], n_buckets=nb, sort_cols=["band_hash"]
    )

    def night(delta_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        bands = D.minhash_band_table(delta_docs, portable=True).select(
            F.col("_id").alias("delta_id"), "band_idx", "band_hash"
        )
        cand = (
            F.broadcast(bands)
            .join(spark.table(name), ["band_idx", "band_hash"])
            .select(F.col("delta_id").alias("id_a"), F.col("corpus_id").alias("id_b"))
            .distinct()
        )
        # id_a is always tonight's delta -> a-side shingles only the
        # night's frame (round 13); id_b can be corpus OR night-1
        # after the append, so the b-side stays the full docs default
        return (
            D.jaccard_pairs(
                docs, cand, threshold=0.5, sets_a=D.shingle_sets(delta_docs)
            ),
            bands,
        )

    v1, bands1 = night(docs.where(is_n1))
    v1 = v1.localCheckpoint(eager=True)  # materialize BEFORE the append
    write_bucketed_table(
        bands1.select(F.col("delta_id").alias("corpus_id"), "band_idx", "band_hash"),
        name,
        ["band_hash"],
        n_buckets=nb,
        sort_cols=["band_hash"],
        mode="append",
    )
    v2, _ = night(docs.where(is_n2))
    out = v1.select(F.lit(1).alias("night"), "id_a", "id_b", "jaccard").unionByName(
        v2.select(F.lit(2).alias("night"), "id_a", "id_b", "jaccard")
    )
    return out.select(
        "night",
        F.col("id_a").alias("delta_id"),
        F.col("id_b").alias("other_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _index_compaction_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Value oracle for the compaction cycle: DuckDB recomputes the
    band rows the index SHOULD hold after (corpus write + night-1
    append) from the raw documents — so matching n_band_rows /
    n_distinct_bands read off the COMPACTED table proves the rewrite
    lost and invented nothing; the three flags are the in-plan checks
    (row multiset equality, file-count reduction, zero-exchange
    co-location) surfaced as literals, the recall-gate pattern."""
    return _portable_band_ctes(num_hashes, bands) + f"""
SELECT CAST(count(*) AS BIGINT) AS n_band_rows,
       CAST(count(DISTINCT band_hash) AS BIGINT) AS n_distinct_bands,
       1 AS rows_match, 1 AS files_reduced, 1 AS colocated_zero_exchange
FROM bands
WHERE doc_id % {DELTA_MOD} <> 0 OR doc_id % {2 * DELTA_MOD} = 0
"""


def compaction_probe(orig: DataFrame, comp: DataFrame) -> Row:
    """Equivalence evidence for a band-table rewrite, in ONE job:
    ``n_rows`` and ``n_bands`` (distinct ``band_hash`` values) of the
    compacted table ``comp``, and ``mism`` = 1 when the two tables'
    (corpus_id, band_idx, band_hash) multisets differ.

    One aggregation over a src-tagged union (round 14, guide §1.2)
    replaces four eager jobs (two exceptAll emptiness probes, a count,
    a distinct count), each re-shuffling the band tables. Per-(row
    value) counts from both sides compare groupwise: all-equal <=>
    multiset equality, the exact check exceptAll gave. A NULL
    ``band_hash`` counts as one distinct value, as
    ``distinct().count()`` did: ``count(DISTINCT x)`` skips NULL, but a
    struct that holds a NULL is itself not NULL."""
    cols = ["corpus_id", "band_idx", "band_hash"]
    tagged = orig.select(*cols, F.lit(1).alias("_src")).unionByName(
        comp.select(*cols, F.lit(2).alias("_src"))
    )
    per = tagged.groupBy(*cols).agg(
        F.count(F.when(F.col("_src") == 1, 1)).alias("_co"),
        F.count(F.when(F.col("_src") == 2, 1)).alias("_cc"),
    )
    return per.agg(
        F.sum("_cc").alias("n_rows"),
        F.count_distinct(
            F.when(F.col("_cc") > 0, F.struct("band_hash"))
        ).alias("n_bands"),
        F.max(F.when(F.col("_co") != F.col("_cc"), 1).otherwise(0)).alias(
            "mism"
        ),
    ).collect()[0]


@query("dedup_index_compaction", oracle=_index_compaction_oracle())
def dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE — the file-count half of the append
    lifecycle (round-9 verdict item 6): every bucketed APPEND adds at
    least one file per touched bucket, so after N nights the band
    index is N small files per bucket and open/scan overhead grows
    without bound. This query builds a fragmented index the way the
    nightly cycle does (corpus bands written bucketed, night-1 bands
    appended), compacts it to EXACTLY one file per bucket
    (sources/sinks.compact_bucketed_table — a bucket-aligned
    repartition + bucketed rewrite, bucket spec unchanged), and emits
    the equivalence evidence: row/band counts read off the COMPACTED
    table (value-matched by the oracle's from-scratch recompute),
    multiset equality original-vs-compacted, a file-count reduction
    flag, and a zero-exchange co-location probe on the compacted
    table. Rebuilt per run BY DESIGN (the subject is the rewrite);
    assumes a non-empty corpus like the rest of the cycle family."""
    import os as _os
    import re as _re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.sinks import (
        compact_bucketed_table,
        count_table_data_files,
        write_bucketed_table,
    )

    docs = read_table_spread(spark, sf_dir, "documents")
    m2 = 2 * DELTA_MOD
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    is_n1 = F.col("doc_id") % m2 == 0

    tag = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(sf_dir.rstrip("/")))
    name = f"corpus_band_idx_cmpct_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    _shutil.rmtree(_os.path.join(warehouse, name.lower()), ignore_errors=True)
    corpus_bands = D.minhash_band_table(docs.where(~is_delta), portable=True).select(
        F.col("_id").alias("corpus_id"), "band_idx", "band_hash"
    )
    from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

    nb = suggest_bucket_count_for(sf_dir, "documents")
    write_bucketed_table(
        corpus_bands, name, ["band_hash"], n_buckets=nb, sort_cols=["band_hash"]
    )
    n1_bands = D.minhash_band_table(docs.where(is_n1), portable=True).select(
        F.col("_id").alias("corpus_id"), "band_idx", "band_hash"
    )
    write_bucketed_table(
        n1_bands,
        name,
        ["band_hash"],
        n_buckets=nb,
        sort_cols=["band_hash"],
        mode="append",
    )

    files_before = count_table_data_files(spark, name)
    dest = compact_bucketed_table(spark, name, ["band_hash"], nb, ["band_hash"])
    files_after = count_table_data_files(spark, dest)

    orig, comp = spark.table(name), spark.table(dest)
    probe = compaction_probe(orig, comp)
    rows_match = (probe["mism"] or 0) == 0
    agg_plan = (
        comp.groupBy("band_hash")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # JVM-literal 1-row result (the _empty_seed lesson, guide §4): a
    # local-data createDataFrame parallelizes one row into
    # defaultParallelism PICKLED PYTHON partitions, so every
    # materialization of the returned frame paid ~32 Python-worker
    # round trips.
    return spark.range(1).select(
        F.lit(int(probe["n_rows"] or 0)).cast("bigint").alias("n_band_rows"),
        F.lit(int(probe["n_bands"] or 0))
        .cast("bigint")
        .alias("n_distinct_bands"),
        F.lit(int(rows_match)).cast("int").alias("rows_match"),
        F.lit(int(files_after < files_before)).cast("int").alias("files_reduced"),
        F.lit(int("Exchange" not in agg_plan))
        .cast("int")
        .alias("colocated_zero_exchange"),
    )


def _gram_merge_oracle() -> str:
    """The merged gram-DF index recomputed from raw documents: after
    the corpus write + night-1 append + generation merge, the index
    must hold EXACTLY the per-gram distinct-document frequencies of
    (corpus + night 1) — full value parity on the index contents, not
    a summary flag."""
    corpus_or_n1 = f"doc_id % {DELTA_MOD} <> 0 OR doc_id % {2 * DELTA_MOD} = 0"
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents WHERE {corpus_or_n1}
), g AS (
  SELECT doc_id,
         concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])
           AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {_CROSSDOC_K - 2}))
          AS i
        FROM t WHERE len(toks) >= {_CROSSDOC_K})
)
SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM g GROUP BY gram
"""


@query("dedup_gram_index_merge", oracle=_gram_merge_oracle())
def dedup_gram_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation MERGE for the gram-DF index — the semantic half of
    index maintenance (dedup_index_compaction is the file half):
    nightly appends leave one (gram, df) row per generation; this
    operator folds them back to one row per gram by summing
    frequencies — a ZERO-exchange aggregation (the table is
    gram-bucketed, pinned in tests/test_round10.py) — and rewrites
    the result bucketed, one file per bucket. The emitted result IS
    the merged index, held to full value parity against the per-gram
    distinct-doc frequencies recomputed from raw documents — proving
    build + append + merge together lose and invent nothing. Cycle
    tables rebuilt per run BY DESIGN."""
    import os as _os
    import re as _re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.sinks import write_bucketed_table

    docs = read_table_spread(spark, sf_dir, "documents")
    m2 = 2 * DELTA_MOD
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    is_n1 = F.col("doc_id") % m2 == 0

    tag = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(sf_dir.rstrip("/")))
    name = f"gram_df_idx_merge_{tag}"
    merged_name = f"{name}_merged"
    warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for n in (name, merged_name):
        spark.sql(f"DROP TABLE IF EXISTS {n}")
        _shutil.rmtree(_os.path.join(warehouse, n.lower()), ignore_errors=True)

    def gdf(population: DataFrame) -> DataFrame:
        return (
            _crossdoc_gram_table(population)
            .groupBy("gram")
            .agg(F.count_distinct("doc_id").alias("df"))
        )

    from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

    nb = suggest_bucket_count_for(sf_dir, "documents")
    write_bucketed_table(
        gdf(docs.where(~is_delta)), name, ["gram"], n_buckets=nb, sort_cols=["gram"]
    )
    write_bucketed_table(
        gdf(docs.where(is_n1)),
        name,
        ["gram"],
        n_buckets=nb,
        sort_cols=["gram"],
        mode="append",
    )
    merged = (
        spark.table(name).groupBy("gram").agg(F.sum("df").cast("long").alias("df"))
    )
    write_bucketed_table(
        merged, merged_name, ["gram"], n_buckets=nb, sort_cols=["gram"]
    )
    return spark.table(merged_name)


def dedup_simhash_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit xxhash64 fingerprint, 4-block
    pigeonhole bucketing, hamming <= 3) — the production hash family,
    UNREGISTERED since round 10 (no DuckDB restatement of xxhash64);
    the registered dedup_simhash runs the identical pipeline on the
    portable 60-bit family under a full value oracle."""
    docs = read_table_spread(spark, sf_dir, "documents")
    return D.simhash_dedup_pairs(docs, max_hamming=3)


def _portable_simhash_oracle(n_tables: int = 4, max_hamming: int = 3) -> str:
    """SimHash restated in DuckDB on the 60-bit md5-derived hash:
    per-token bit votes, sign-pack, 15-bit pigeonhole blocks, exact
    hamming verify — value parity with the Spark portable variant."""
    nbits, bpb = 60, 60 // n_tables
    mask = (1 << bpb) - 1
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    pack = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(nbits))
    blocks = ", ".join(
        f"struct_pack(i := {i}, v := (fp >> {i * bpb}) & {mask})" for i in range(n_tables)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM t
), v AS (
  SELECT doc_id, {votes} FROM h GROUP BY doc_id
), f AS (
  SELECT doc_id, CAST({pack} AS BIGINT) AS fp FROM v
), blk AS (
  SELECT doc_id, fp, unnest([{blocks}]) AS b FROM f
), b2 AS (
  SELECT doc_id, fp, b.i AS bi, b.v AS bv FROM blk
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
  FROM b2 a JOIN b2 b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
"""


@query("dedup_simhash", oracle=_portable_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (60-bit portable fingerprint, 4-block
    pigeonhole bucketing, hamming <= 3) — the whole pipeline (token
    bit votes, sign-pack, pigeonhole block bucketing, hamming verify)
    value-checked against a DuckDB restatement. Registered DEFAULT
    since round 10; the cheaper xxhash64 variant lives on as the
    unregistered dedup_simhash_xxhash (twin pin shares candidate
    generation). Formerly registered as dedup_simhash_portable."""
    docs = read_table_spread(spark, sf_dir, "documents")
    return D.simhash_dedup_pairs(docs, max_hamming=3, portable=True)


def dedup_fingerprints_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit engine fingerprints: xxhash64 content hash
    + 64-bit simhash — the production hash family, UNREGISTERED since
    round 10 (DuckDB lacks xxhash64, so this form could never be
    driver-greened); the registered dedup_fingerprints computes the
    identical shape on the portable 60-bit family under a full value
    oracle."""
    from gcd_etl_spark.functions.text import fingerprint64

    docs = read_table_spread(spark, sf_dir, "documents")
    sim = D.simhash_table(docs)
    return (
        docs.select("doc_id", fingerprint64("text").alias("content_fp"))
        .join(sim, F.col("doc_id") == F.col("_id"), "left")
        # token-less docs: fingerprint 0, matching simhash64's fold
        .select("doc_id", "content_fp", F.coalesce("fp", F.lit(0)).alias("simhash_fp"))
    )


def _portable_fingerprints_oracle() -> str:
    """Per-doc portable fingerprints restated in DuckDB: content_fp =
    60-bit md5 prefix of the dedup-normalized text (portable_hash64 of
    operators/dedup.normalized), simhash_fp = the same 60-bit vote/
    sign-pack simhash the dedup_simhash oracle builds, LEFT-joined so
    token-less docs fold to 0 exactly like simhash_table."""
    nbits = 60
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    pack = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(nbits))
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM tok
), v AS (
  SELECT doc_id, {votes} FROM h GROUP BY doc_id
), f AS (
  SELECT doc_id, CAST({pack} AS BIGINT) AS fp FROM v
)
SELECT d.doc_id,
       CAST(('0x' || substr(md5({_DUCK_NORM}), 1, 15)) AS BIGINT) AS content_fp,
       COALESCE(f.fp, 0) AS simhash_fp
FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
"""


@query("dedup_fingerprints", oracle=_portable_fingerprints_oracle())
def dedup_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document portable fingerprints (registered DEFAULT since
    round 10): content_fp = 60-bit md5-prefix hash of the normalized
    text (the md5 the exact-dedup family groups on, packed to a
    long), simhash_fp = the 60-bit portable simhash — both restated
    exactly in DuckDB, so the whole fingerprint table is value-hash
    oracled. The xxhash64 production variant lives on as the
    unregistered dedup_fingerprints_xxhash (twin pin shares
    simhash_table)."""
    docs = read_table_spread(spark, sf_dir, "documents")
    sim = D.simhash_table(docs, portable=True)
    return (
        docs.select(
            "doc_id",
            D.portable_hash64(D.normalized("text")).alias("content_fp"),
        )
        .join(sim, F.col("doc_id") == F.col("_id"), "left")
        # token-less docs: fingerprint 0, matching simhash_table's fold
        .select("doc_id", "content_fp", F.coalesce("fp", F.lit(0)).alias("simhash_fp"))
    )


# ----------------------------------------- portable SRP semantic dedup
#: 8 LSH tables x 6 sign bits; cosine accept threshold 0.40 (squared
#: literal below) — sized to THIS fixture's similarity ceiling (the
#: synthetic corpus is near-orthogonal: max pairwise cosine ~0.51, so
#: a 0.9-style near-dup bar would select nothing; production corpora
#: with real dupes raise the bar, which only HELPS recall). Hyperplane
#: signs derive from md5 of a fixed label, so BOTH engines rebuild the
#: identical matrix from constants.
SRP_TABLES = 8
SRP_BITS = 6
SRP_COS2 = 0.16  # 0.40^2
_SRP_DIM = 64


# --------------------------- occupancy-capped SRP (bucket splitting)
#: Heavy-hitter treatment for LSH buckets — the companion rule the
#: round-11 32x measurement demanded (see the 32x NOTE at SRP_BITS):
#: scaling bits with n holds the AVERAGE occupancy constant, but the
#: fixture's (and any real corpus's) embeddings cluster in sign
#: space, so heavy buckets dominate the candidate-pair count
#: (~sum occ^2). A bucket whose occupancy exceeds SRP_CAP_FACTOR x
#: the uniform expectation ceil(n / 2^bits) is re-hashed with
#: SRP_CAP_SPLIT_BITS more hyperplanes of the SAME md5 sign family
#: (bits 6..9 of each table), splitting it into up to 2^4 = 16
#: sub-buckets — exactly the skew treatment the salting machinery
#: applies to join keys, applied to LSH. The cap is RELATIVE (not an
#: absolute count) so the rule composes with the _srp_scaled_bits
#: width rule: width holds the average, the cap clips the tail.
#: LIMIT of splitting, worth stating because it bounds what recursion
#: could ever buy: hyperplane re-hashing separates CLUSTERED vectors,
#: never IDENTICAL ones — equal vectors take equal signs under every
#: hyperplane, so an identical-vector mass (empty documents, mirrored
#: content) rides into the same sub-bucket at any split depth
#: (pinned: tests/test_round11.py::test_srp_cap_identical_vectors).
#: The production composition is therefore dedup_exact_embeddings
#: FIRST (hash-group exact pass, already registered) and the cap
#: second, clipping only the genuinely-near mass exact dedup can't
#: see. One split level then suffices for everything the fixture and
#: the 32x staging exhibit; recursive splitting would only chase
#: near-identical residue at added oracle width.
SRP_CAP_FACTOR = 2
SRP_CAP_SPLIT_BITS = 4



#: 32x NOTE (round 11): with these FIXED 6 bits the delta-vs-corpus
#: lifecycle path goes quadratic past ~8x the fixture — the 32x
#: amplified audit measured dedup_semantic_delta_vs_corpus at
#: 3.2 -> 348.8 s (exp 1.35; ~7.7e7 candidate pairs at 64k vectors,
#: the verify stage dominating). The size-derived config ALREADY
#: exists and is differential-checked: dedup_semantic_srp_scaled's
#: _srp_scaled_bits(n) + SRP_SCALED_TABLES (below) hold per-bucket
#: occupancy ~constant with a recall-floor gate. The production fix
#: is to stage ensure_srp_bucket_index at _srp_scaled_bits(n) when
#: (re)building the persisted index; the REGISTERED fixture queries
#: keep the fixed width because their import-time oracle strings
#: restate this exact hyperplane family bit-for-bit. Measured on the
#: 32x staging: bits 6 -> 10 cuts candidate pairs 76.6M -> 18.1M
#: (4.2x; uniform occupancy would give 16x — the synthetic vectors
#: cluster in sign space, so heavy buckets dominate). The standard
#: LSH companion — per-bucket occupancy caps with re-hash splitting —
#: is IMPLEMENTED as of round 11: dedup_semantic_srp_capped is the
#: value-oracled primitive (see SRP_CAP_FACTOR below), and the
#: lifecycle dials are ensure_srp_bucket_index(bits=, n_tables=,
#: capped=True) + srp_capped_delta_pairs (probe-both-keys, no heavy-
#: bucket metadata on the probe side). Measured at 32x over all four
#: (width x cap) configs, the cap ALONE cuts 76.6M -> 19.8M (3.9x) at
#: fixed width by clipping the 136 heavy buckets.


def _srp_signs(table: int, bit: int) -> list[int]:
    import hashlib

    out = []
    for i in range(_SRP_DIM):
        h = hashlib.md5(f"srp:{table}:{bit}:{i}".encode()).hexdigest()
        out.append(1 if int(h[:15], 16) % 2 == 0 else -1)
    return out


def _srp_bucket_sql(table: int, one_based: bool, bits: int = SRP_BITS) -> str:
    terms = []
    for j in range(bits):
        signs = _srp_signs(table, j)
        dot = " + ".join(
            f"({s} * qv[{i + 1 if one_based else i}])" for i, s in enumerate(signs)
        )
        terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _srp_self_dot(one_based: bool) -> str:
    return " + ".join(
        f"qv[{i + 1 if one_based else i}] * qv[{i + 1 if one_based else i}]"
        for i in range(_SRP_DIM)
    )


def _srp_oracle() -> str:
    pair_dot = " + ".join(f"p.qa[{i}] * p.qb[{i}]" for i in range(1, _SRP_DIM + 1))
    buckets = ", ".join(
        f"{_srp_bucket_sql(t, True)} AS b{t}" for t in range(SRP_TABLES)
    )
    any_shared = " OR ".join(f"a.b{t} = c.b{t}" for t in range(SRP_TABLES))
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
b AS (
  SELECT vec_id, qv, CAST({_srp_self_dot(True)} AS BIGINT) AS nrm, {buckets}
  FROM e
),
p AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         a.qv AS qa, c.qv AS qb, a.nrm AS na, c.nrm AS nb
  FROM b a JOIN b c ON a.vec_id < c.vec_id AND ({any_shared})
),
v AS (
  SELECT id_a, id_b, CAST({pair_dot} AS BIGINT) AS dot, na, nb
  FROM p
)
SELECT id_a, id_b, dot,
       CAST(floor(CAST(dot AS DOUBLE)
                  / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS cos_ppm
FROM v
WHERE dot > 0
  AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
      >= {SRP_COS2} * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
"""


def _srp_delta_oracle() -> str:
    """Delta-vs-corpus SRP dedup restated in DuckDB: identical
    quantization / bucket / verify expressions as _srp_oracle (shared
    builders), candidate predicate = one side tonight's delta
    (``vec_id % DELTA_MOD == 0``), other side the standing corpus."""
    pair_dot = " + ".join(f"p.qa[{i}] * p.qb[{i}]" for i in range(1, _SRP_DIM + 1))
    buckets = ", ".join(
        f"{_srp_bucket_sql(t, True)} AS b{t}" for t in range(SRP_TABLES)
    )
    any_shared = " OR ".join(f"a.b{t} = c.b{t}" for t in range(SRP_TABLES))
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
b AS (
  SELECT vec_id, qv, CAST({_srp_self_dot(True)} AS BIGINT) AS nrm, {buckets}
  FROM e
),
p AS (
  SELECT a.vec_id AS delta_id, c.vec_id AS corpus_id,
         a.qv AS qa, c.qv AS qb, a.nrm AS na, c.nrm AS nb
  FROM b a JOIN b c
    ON a.vec_id % {DELTA_MOD} = 0 AND c.vec_id % {DELTA_MOD} <> 0
   AND ({any_shared})
),
v AS (
  SELECT delta_id, corpus_id, CAST({pair_dot} AS BIGINT) AS dot, na, nb
  FROM p
)
SELECT delta_id, corpus_id, dot,
       CAST(floor(CAST(dot AS DOUBLE)
                  / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS cos_ppm
FROM v
WHERE dot > 0
  AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
      >= {SRP_COS2} * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
"""


def ensure_srp_bucket_index(
    spark: SparkSession,
    sf_dir: str,
    corpus_emb: DataFrame,
    bits: int = SRP_BITS,
    n_tables: int = SRP_TABLES,
    capped: bool = False,
) -> DataFrame:
    """The persisted SRP bucket index of the standing embedding
    corpus — the SemDeDup lifecycle's storage half, mirroring
    ensure_corpus_band_index: (corpus_id, t, bk) staged once per
    (sf dir, data fingerprint, config) as a bk-bucketed table. The
    nightly delta path and the streaming ingest gate both probe it,
    so neither ever re-projects the corpus through the hyperplanes.

    ``bits``/``n_tables``/``capped`` are the PRODUCTION dials the
    round-11 32x measurement demanded (see the 32x NOTE at SRP_BITS):
    stage at _srp_scaled_bits(n) to hold average occupancy, and/or
    with ``capped=True`` to re-hash heavy buckets (occupancy >
    SRP_CAP_FACTOR x ceil(n / 2^bits), corpus-side counts) with
    SRP_CAP_SPLIT_BITS extra hyperplanes — the bk column then holds
    the capped KEY (light keys < 2^bits bit-identical to the plain
    index; heavy keys = wide bucket + 2^bits, disjoint). Probe with
    srp_capped_delta_pairs, which probes BOTH possible keys per
    (table, delta bucket) so no heavy-bucket metadata travels. The
    registered fixture queries keep the default config because their
    import-time oracle strings restate that exact family; non-default
    configs get a config-suffixed table name so they never collide
    with (or silently shadow) the anchor staging."""
    import os as _os
    import re as _re
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.catalog import table_fingerprint
    from gcd_etl_spark.sources.sinks import write_bucketed_table

    tag = _re.sub(r"[^A-Za-z0-9_]", "_", _os.path.basename(sf_dir.rstrip("/")))
    cfg = (
        ""
        if (bits, n_tables, capped) == (SRP_BITS, SRP_TABLES, False)
        else f"_b{bits}t{n_tables}{'c' if capped else ''}"
    )
    name = (
        f"srp_bucket_idx_{tag}{cfg}_{table_fingerprint(sf_dir, 'embeddings')}"
    )
    if not spark.catalog.tableExists(name):
        warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        _shutil.rmtree(_os.path.join(warehouse, name.lower()), ignore_errors=True)
        if capped:
            wide = _srp_bucket_frame(
                corpus_emb, bits + SRP_CAP_SPLIT_BITS, n_tables
            )
            tb = _srp_capped_keys(wide, bits=bits).select(
                F.col("vec_id").alias("corpus_id"), "t", F.col("key").alias("bk")
            )
        else:
            tb = _srp_bucket_frame(corpus_emb, bits, n_tables).select(
                F.col("vec_id").alias("corpus_id"),
                F.posexplode("bks").alias("t", "bk"),
            )
        from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

        write_bucketed_table(
            tb,
            name,
            ["bk"],
            n_buckets=suggest_bucket_count_for(sf_dir, "embeddings"),
            sort_cols=["bk"],
        )
    return spark.table(name)


def srp_capped_delta_pairs(
    spark: SparkSession,
    sf_dir: str,
    emb: DataFrame,
    is_delta,
    bits: int = SRP_BITS,
    n_tables: int = SRP_TABLES,
) -> DataFrame:
    """The PRODUCTION delta-vs-corpus probe against an occupancy-
    CAPPED persisted index (dedup_semantic_delta_vs_corpus's shape
    with the heavy-hitter treatment the 32x audit demanded): the
    delta's wide buckets are one Arrow matmul over O(delta) rows, and
    each (table, wide bucket) probes BOTH keys it could live under —
    the light key (low ``bits``) and the heavy key (wide + 2^bits).
    Exactly one of the two exists in the index for any populated
    bucket, so the join finds the right one without shipping any
    heavy-bucket metadata to the probe side; candidate volume from a
    heavy bucket shrinks from its full occupancy to the one sub-
    bucket sharing all wide bits. Verification is the family's shared
    exact integer-dot stage, so accepted pairs carry values identical
    to the uncapped path wherever both generate the candidate."""
    idx = ensure_srp_bucket_index(
        spark, sf_dir, emb.where(~is_delta), bits=bits, n_tables=n_tables,
        capped=True,
    )
    cand = _srp_capped_probe_cands(idx, emb.where(is_delta), bits, n_tables)
    # delta side of the verify quantizes only the delta (round 13)
    return _srp_verify_delta(
        spark, sf_dir, cand, q_a=_srp_quant_frame(emb.where(is_delta))
    )


def _srp_capped_probe_cands(
    idx: DataFrame,
    delta_emb: DataFrame,
    bits: int = SRP_BITS,
    n_tables: int = SRP_TABLES,
) -> DataFrame:
    """(delta_id, corpus_id) candidates from probing an occupancy-
    CAPPED index with a delta frame — the probe-both-keys step shared
    by the nightly delta query and the streaming ingest gate (the two
    can never probe differently): per (table, wide bucket) the delta
    row probes its light key (wb % 2^bits) AND its heavy key
    (wb + 2^bits); exactly one exists in the index for any populated
    corpus bucket, so no heavy-bucket metadata ships probe-side."""
    base = 1 << bits
    delta_wide = _srp_bucket_frame(
        delta_emb, bits + SRP_CAP_SPLIT_BITS, n_tables
    )
    delta_tb = (
        delta_wide.select(
            F.col("vec_id").alias("delta_id"),
            F.posexplode("bks").alias("t", "wb"),
        )
        .select(
            "delta_id",
            "t",
            F.explode(
                F.array(F.col("wb") % base, F.col("wb") + base)
            ).alias("bk"),
        )
    )
    return (
        idx.join(F.broadcast(delta_tb), ["t", "bk"])
        .select("delta_id", "corpus_id")
        .dropDuplicates(["delta_id", "corpus_id"])
    )


def _srp_verify_delta(
    spark: SparkSession,
    sf_dir: str,
    cand: DataFrame,
    q_a: DataFrame | None = None,
    q_b: DataFrame | None = None,
) -> DataFrame:
    """Exact integer-dot verification of (delta_id, corpus_id)
    candidates: vectors re-attached by id equi-joins against the
    embeddings table (the index holds only bucket ids — the verify
    never depends on how candidates were generated), same accept rule
    and emitted columns as the anchor family. The dot runs as the
    higher-order-function fold (dot_hof_long) for the same round-12
    measured reason as _srp_verify_pairs — see the codegen note
    there.

    ``q_a`` / ``q_b`` (round 13) override the per-side quant frame
    ((vec_id, qv, nrm) — ``_srp_quant_frame`` of a frame covering
    every id the corresponding candidate column can hold): by default
    BOTH sides of the attach join quantize + self-dot the ENTIRE
    embeddings table per call; the nightly delta queries pass the
    delta frame for the delta side, and the streaming gates
    additionally pass a once-per-run checkpointed corpus frame so a
    micro-batch never re-quantizes the corpus. The join/filter shape
    is unchanged — quant arrays stay materialized BELOW the join (the
    jaccard_pairs round-13 lesson: moving them above lets the
    two-sided accept predicate inline the quantization into the join
    condition)."""
    from gcd_etl_spark.functions.vector import dot_hof_long

    q = (
        _srp_quant_frame(read_table_spread(spark, sf_dir, "embeddings"))
        if q_a is None or q_b is None
        else None
    )
    pairs = cand.join(
        (q if q_a is None else q_a).select(
            F.col("vec_id").alias("delta_id"),
            F.col("qv").alias("qa"),
            F.col("nrm").alias("na"),
        ),
        "delta_id",
    ).join(
        (q if q_b is None else q_b).select(
            F.col("vec_id").alias("corpus_id"),
            F.col("qv").alias("qb"),
            F.col("nrm").alias("nb"),
        ),
        "corpus_id",
    )
    dd = F.col("dot").cast("double")
    accept = (F.col("dot") > 0) & (
        dd * dd
        >= F.lit(SRP_COS2)
        * F.col("na").cast("double")
        * F.col("nb").cast("double")
    )
    cos_ppm = (
        F.floor(
            F.col("dot").cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("cos_ppm")
    )
    v = pairs.select("delta_id", "corpus_id", dot_hof_long("qa", "qb").alias("dot"), "na", "nb")
    return v.where(accept).select("delta_id", "corpus_id", "dot", cos_ppm)


@query("dedup_semantic_delta_vs_corpus", oracle=_srp_delta_oracle())
def dedup_semantic_delta_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup — SemDeDup at the nightly boundary:
    which newly-embedded documents (``vec_id % DELTA_MOD == 0``)
    semantically near-duplicate something in the standing corpus
    (cosine >= 0.40 on the portable SRP family), WITHOUT re-projecting
    the corpus through the 48 hyperplanes: the corpus's SRP buckets
    are read from the persisted bk-bucketed index
    (ensure_srp_bucket_index), the delta's buckets are one Arrow
    matmul over O(delta) rows, candidates come from broadcasting the
    delta's (t, bk) rows against the index scan, and the exact
    integer-dot verify re-attaches vectors by id. Per-night cost is
    O(delta + probe); the oracle is the full SRP restatement with the
    delta/corpus candidate predicate — exact value parity including
    the rounded cos_ppm.

    ANCHOR CONFIGURATION (round 12): this fixed-width UNCAPPED form
    is kept registered as the value-oracled anchor the capped path is
    recall-audited against, but it is NOT the production lifecycle —
    the 32x audit measured it at exp 1.35 (see the 32x NOTE at
    SRP_BITS). Production + lifecycle bench:
    dedup_semantic_delta_vs_corpus_capped."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % DELTA_MOD == 0
    idx = ensure_srp_bucket_index(spark, sf_dir, emb.where(~is_delta))
    delta_tb = _srp_bucket_frame(emb.where(is_delta), SRP_BITS, SRP_TABLES).select(
        F.col("vec_id").alias("delta_id"), F.posexplode("bks").alias("t", "bk")
    )
    cand = (
        idx.join(F.broadcast(delta_tb), ["t", "bk"])
        .select("delta_id", "corpus_id")
        .dropDuplicates(["delta_id", "corpus_id"])
    )
    # delta side of the verify quantizes only the delta (round 13)
    return _srp_verify_delta(
        spark, sf_dir, cand, q_a=_srp_quant_frame(emb.where(is_delta))
    )


def _srp_capped_ctes(corpus: str) -> str:
    """The CTE head both capped oracles share, in integer-exact list
    form: ``b`` quantizes (qv, nrm); ``sg`` holds each (table, bit)
    hyperplane as a +-1 list computed by the same md5 rule as
    _srp_signs; ``w`` is every row's wide (bits + split) bucket ``wb`` and
    anchor bucket ``bk`` per table; ``k`` keys the ``corpus`` rows
    (a predicate on vec_id) as ensure_srp_bucket_index(capped=True)
    does — per-(t, bk) occupancy over the corpus, heavy buckets
    re-keyed to wb + 2^bits. The list form runs in under a second at
    sf0.01; the unrolled literal form (_srp_bucket_sql per table)
    took 27-40 s per oracle just to bind."""
    wide = SRP_BITS + SRP_CAP_SPLIT_BITS
    base = 1 << SRP_BITS
    sign = (
        "CASE WHEN ('0x' || substr(md5('srp:' || t || ':' || j || ':' || i), 1, 15))"
        "::BIGINT % 2 = 0 THEN 1 ELSE -1 END"
    )
    return f"""
e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        v -> CAST(floor(v * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
b AS (
  SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
  FROM e
),
sg AS (
  SELECT t, j, list_transform(range({_SRP_DIM}), i -> {sign}) AS s
  FROM range({SRP_TABLES}) tt(t), range({wide}) jj(j)
),
w AS (
  SELECT vec_id, t, wb, wb % {base} AS bk
  FROM (
    SELECT b.vec_id, sg.t,
           SUM(CASE WHEN list_sum(list_transform(range(1, {_SRP_DIM + 1}),
                                                 i -> b.qv[i] * sg.s[i])) >= 0
                    THEN 1 << sg.j ELSE 0 END) AS wb
    FROM b CROSS JOIN sg
    GROUP BY b.vec_id, sg.t
  )
),
u AS (SELECT vec_id, t, wb, bk FROM w WHERE {corpus}),
c AS (SELECT COUNT(*) AS n FROM b WHERE {corpus}),
occ AS (SELECT t, bk, COUNT(*) AS oc FROM u GROUP BY t, bk),
k AS (
  SELECT u.vec_id, u.t,
         CASE WHEN o.oc > {SRP_CAP_FACTOR} * ((c.n + {base - 1}) // {base})
              THEN u.wb + {base} ELSE u.bk END AS key
  FROM u JOIN occ o ON u.t = o.t AND u.bk = o.bk CROSS JOIN c
)"""


#: Exact int64 pair dot of the verify CTEs (list form, no float cast).
_SRP_PAIR_DOT = (
    f"CAST(list_sum(list_transform(range(1, {_SRP_DIM + 1}), i -> p.qa[i] * p.qb[i])) AS BIGINT)"
)


def _srp_capped_delta_oracle() -> str:
    """Delta-vs-corpus SRP dedup against the occupancy-CAPPED corpus
    index, restated in DuckDB: corpus rows (vec_id % DELTA_MOD <> 0)
    are keyed exactly as _srp_capped_oracle keys them — wide
    (bits + split) buckets, per-(t, anchor-bucket) occupancy counted
    over the CORPUS ONLY (n = corpus count, matching what
    ensure_srp_bucket_index(capped=True) stages), heavy buckets
    re-keyed to wb + 2^bits — and each delta row probes BOTH its
    light and heavy key per table (the probe-both-keys contract of
    _srp_capped_probe_cands). Verify/accept/emit identical to
    _srp_delta_oracle."""
    base = 1 << SRP_BITS
    return f"""
WITH {_srp_capped_ctes(f"vec_id % {DELTA_MOD} <> 0")},
du AS (SELECT vec_id, t, wb, bk FROM w WHERE vec_id % {DELTA_MOD} = 0),
dp AS (
  SELECT vec_id, t, bk AS key FROM du
  UNION ALL
  SELECT vec_id, t, wb + {base} AS key FROM du
),
np AS (
  SELECT DISTINCT dp.vec_id AS delta_id, k.vec_id AS corpus_id
  FROM dp JOIN k ON dp.t = k.t AND dp.key = k.key
),
p AS (
  SELECT np.delta_id, np.corpus_id,
         ba.qv AS qa, bb.qv AS qb, ba.nrm AS na, bb.nrm AS nb
  FROM np
  JOIN b ba ON ba.vec_id = np.delta_id
  JOIN b bb ON bb.vec_id = np.corpus_id
),
v AS (
  SELECT delta_id, corpus_id, {_SRP_PAIR_DOT} AS dot, na, nb
  FROM p
)
SELECT delta_id, corpus_id, dot,
       CAST(floor(CAST(dot AS DOUBLE)
                  / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS cos_ppm
FROM v
WHERE dot > 0
  AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
      >= {SRP_COS2} * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
"""


@query(
    "dedup_semantic_delta_vs_corpus_capped", oracle=_srp_capped_delta_oracle()
)
def dedup_semantic_delta_vs_corpus_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION form of the nightly SemDeDup boundary — the
    delta-vs-corpus probe of dedup_semantic_delta_vs_corpus run
    against the occupancy-CAPPED persisted index (round-11 32x
    measurement: the fixed-width uncapped path goes exp 1.35 —
    3.2 s -> 348.8 s — because clustered sign-space buckets dominate;
    the cap re-hashes any (table, bucket) above
    SRP_CAP_FACTOR x ceil(n / 2^bits) with SRP_CAP_SPLIT_BITS extra
    hyperplanes, measured 185 s -> 49 s at 32x with pairs conserved
    to 0.07%). Shape: corpus keys live in the bk-bucketed persisted
    index (staged once per data fingerprint, capped config-suffixed);
    the delta's wide buckets are one Arrow matmul over O(delta) rows;
    each (table, wide bucket) probes BOTH candidate keys so no
    heavy-bucket metadata ships probe-side; exact integer-dot verify
    re-attaches vectors by id. Recall cost confined to the clipped
    tail (a pair split in one table still meets in any other table).
    The fixed-width form stays registered as the explicitly-labeled
    ANCHOR; this is the lifecycle-benched default."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % DELTA_MOD == 0
    return srp_capped_delta_pairs(spark, sf_dir, emb, is_delta)


@query("dedup_semantic_srp", oracle=_srp_oracle())
def dedup_semantic_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) near-duplicate pairs via PORTABLE
    signed-random-projection LSH — the SemDeDup-family primitive:
    8 tables x 6 sign-bit buckets, candidates = pairs sharing ANY
    bucket, accepted at cosine >= 0.40 (the fixture's similarity
    ceiling is ~0.51 — see the constants note).

    Portability trick: the hyperplane sign matrix is derived from
    md5 of fixed labels at PLAN BUILD TIME and embedded as literal
    +-1 coefficients in both engines' expressions — so unlike the
    xxhash64 SRP tables of sim_ann_lsh (rows-only check), this LSH
    family is bit-identical in DuckDB and carries a FULL value-hash
    oracle. Verification avoids all float compares except one fixed
    IEEE sequence: integer dot > 0 AND dot^2 >= SRP_COS2*|a|^2*|b|^2
    (cosine cleared of its sqrt), with cos_ppm reported via the
    correctly-rounded sqrt. The dot>0 guard makes the squared
    comparison sign-safe.

    Scale: Spark builds each table's buckets once (codegen'd literal
    dot products), shuffles on (table, bucket) equi-keys — never the
    OR-join the oracle can afford at sf0.01 — and unions candidates
    before one distinct + verify pass; recall at the 0.40 bar is
    ~1-(1-p^6)^8 with p = 1 - acos(0.40)/pi ~ 0.63, rising steeply
    with similarity — more tables buy recall at constant per-table
    cost. The OTHER dial is bucket width: SRP_BITS stays a literal 6
    here because the oracle must embed identical constants, which
    leaves wide buckets as the corpus grows (measured 24.9 s at
    sf0.1 from ~150M verified candidates); production sizes
    SRP_BITS ~ log2(n / target_bucket_size) — the xxhash-based
    sim_ann_lsh is that path, and THIS operator is its
    value-hash-oracled anchor configuration (the portable_hash64
    stance). Exact-pair ground truth for recall audits:
    sim_embedding_neardup_blas.
    """
    from pyspark.sql import Window as W

    return _srp_accepted(spark, sf_dir, SRP_BITS, SRP_TABLES).select(
        "id_a",
        "id_b",
        "dot",
        F.floor(
            F.col("dot").cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("cos_ppm"),
    )


def _srp_quant_frame(emb: DataFrame) -> DataFrame:
    """(vec_id, qv, nrm): the exact integer-quantized vector (1e6
    fixed point, the SRP family's only float->int step) and its
    int64 self-dot — the verify-side attachment every SRP pipeline
    stage shares. Both projections reach the JVM as SQL text (the
    streaming gates call this once per MICRO-BATCH)."""
    qv = "transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5D) AS BIGINT)) AS qv"
    return emb.selectExpr("vec_id", qv).selectExpr(
        "vec_id", "qv", f"CAST({_srp_self_dot(False)} AS BIGINT) AS nrm"
    )


def _srp_bucket_frame(emb: DataFrame, bits: int, n_tables: int) -> DataFrame:
    """(vec_id, qv, nrm, bks): quantized vector + per-table SRP bucket
    ids, all ``n_tables x bits`` sign projections as ONE Arrow-batched
    exact int64 matmul (see _srp_accepted's docstring for why not
    literal SQL). Shared by the self-join anchor, the delta-vs-corpus
    path, the persisted bucket index build, and the streaming gate —
    the four can never bucket differently."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    signs = np.asarray(
        [[_srp_signs(t, j) for j in range(bits)] for t in range(n_tables)],
        dtype=np.int64,
    ).reshape(n_tables * bits, _SRP_DIM)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(qv):
        if len(qv) == 0:
            return pd.Series([], dtype=object)
        m = np.asarray(qv.tolist(), dtype=np.int64)
        hits = (m @ signs.T) >= 0
        packed = hits.reshape(len(m), n_tables, bits) @ weights
        return pd.Series(list(packed))

    return _srp_quant_frame(emb).select("vec_id", "qv", "nrm", _buckets("qv").alias("bks"))


def _srp_accepted(
    spark: SparkSession, sf_dir: str, bits: int, n_tables: int
) -> DataFrame:
    """Accepted SRP near-dup pairs (id_a, id_b, dot, na, nb) for an
    arbitrary (bits, n_tables) config of the md5-portable sign family.

    All ``n_tables x bits`` sign-projections run as ONE Arrow-batched
    exact int64 NumPy matmul. The literal-SQL form (_srp_bucket_sql
    x 8 tables in one projection) exceeds Janino's 64KB method limit,
    so the whole bucket stage silently fell back to INTERPRETED
    evaluation — the actual wall cost the round-5 verdict measured
    (24.6s at sf0.1; 4.3s after this rewrite). numpy int64 keeps the
    arithmetic exact (|qv| <= 1e6, 64 dims -> |dot| <= 6.4e7), so
    bucket ids match the oracle's CASE sums bit-for-bit; DuckDB still
    evaluates the literal expressions for the anchor config.

    Per-table equi-join on the bucket key (the scale shape), union +
    distinct over the NARROW (id, id) candidate stream, vectors
    re-attached via two broadcast joins, then one exact 64-term
    integer dot per candidate as the higher-order fold (dot_hof_long
    since round 12: the unrolled form blew Janino's 64 KB limit in
    the fused dedup-output stage and degraded the WHOLE stage to
    interpreted; the HOF keeps the stage compiled and measured ~23%
    faster — see the codegen note below).
    """
    b = _srp_bucket_frame(
        read_table_spread(spark, sf_dir, "embeddings"), bits, n_tables
    ).localCheckpoint(eager=False)
    # ONE self-join on the exploded (table, bucket) key instead of a
    # per-table join loop: T joins made the logical plan (and its
    # optimization/codegen time) grow linearly with T — at the scaled
    # config's T=14..23 tables, planning dominated the 500-row
    # fixture wall. The exploded form is also the 100 TB shape: a
    # single shuffle keyed on (table, bucket), rows = n x T, never
    # T separate exchanges.
    tb = b.select("vec_id", F.posexplode("bks").alias("t", "bk"))
    narrow = (
        tb.alias("x")
        .join(tb.alias("y"), ["t", "bk"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _srp_verify_pairs(b, narrow)


def _srp_verify_pairs(
    b: DataFrame, narrow: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Exact-verify a narrow (id_a, id_b, *extra_cols) candidate
    stream against the bucket frame ``b`` (vec_id, qv, nrm, ...):
    returns accepted rows (id_a, id_b, dot, na, nb, *extra_cols) —
    the shared tail of the self-join anchor and the occupancy-capped
    variant, so candidate GENERATION is the only thing that can
    differ between the SRP family's pair operators.

    Vector re-attach: plain equi-joins on the id key, NO broadcast
    hint (round-6 verdict item 3). The build side here is the FULL
    quantized corpus — at fixture scale AQE broadcasts it anyway
    (it is far under autoBroadcastJoinThreshold), but a forced
    F.broadcast would pin an un-broadcastable build side at 100 TB;
    un-hinted, AQE falls back to a shuffled hash/sort-merge join on
    vec_id, which is the correct scale plan."""
    side = b.select("vec_id", "qv", "nrm")
    pairs = (
        narrow.join(
            side.select(
                F.col("vec_id").alias("id_a"),
                F.col("qv").alias("qa"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            side.select(
                F.col("vec_id").alias("id_b"),
                F.col("qv").alias("qb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
    )
    from gcd_etl_spark.functions.vector import dot_hof_long

    dot = dot_hof_long("qa", "qb")
    # CODEGEN NOTE (round 7 -> round 12): the unrolled 64-term dot
    # (dot_fixed_long) blew Janino's 64 KB method limit here once
    # pushdown inlined it 2-3x into the fused join stage, degrading
    # the WHOLE stage to interpreted. Round 7 measured three fixes
    # that all LOST to the fused-interpreted plan (localCheckpoint
    # barrier 9.7 s; nondeterministic fence column 9.3 s — losing
    # operator fusion costs more than interpreting the condition;
    # entangled atoms still 2 markers) vs 2.7 s fused-interpreted,
    # and kept the fallback as the least-bad option. Round 12 found
    # the option that wins outright: the HIGHER-ORDER fold
    # (dot_hof_long). The HOF is CodegenFallback, so ONLY the dot
    # evaluates as a Scala loop while the generated method stays tiny
    # and the REST of the stage compiles — alternating A/B at sf0.1,
    # 3 reps each, same session: unrolled 2.65/2.42/2.11 s (4 compile
    # failures), HOF 1.82/1.97/1.63 s (zero). ~23% faster AND the
    # bench fallback detector goes quiet; the expensive r6 instance
    # (the interpreted BUCKET stage) remains fixed by the Arrow
    # matmul rewrite above.
    v = pairs.select(
        "id_a", "id_b", dot.alias("dot"), "na", "nb", *extra_cols
    )
    dd = F.col("dot").cast("double")
    return v.where(
        (F.col("dot") > 0)
        & (dd * dd >= F.lit(SRP_COS2) * F.col("na").cast("double") * F.col("nb").cast("double"))
    )


# ------------------------------------ growth-scaled SRP (anchor-gated)
#: Target expected vectors per bucket: bits = smallest b in [6,16]
#: with n <= TARGET * 2^b — the SRP_BITS ~ log2(n/target) production
#: dial the anchor's docstring promises, actually registered
#: (round-5 verdict: "weak until a growth-scaled variant exists").
SRP_SCALED_TARGET_BUCKET = 16
SRP_SCALED_MIN_BITS = 6
SRP_SCALED_MAX_BITS = 16

#: Tables per bit-width for >= 60% THEORETICAL recall at the cos 0.40
#: accept bar: T(b) = ceil(ln(0.4) / ln(1 - p^b)), p = 1 - acos(.4)/pi.
#: Python computes these ONCE at import and embeds the same integers
#: in the plan and the oracle literal — no cross-engine float math.
#: (At a production 0.9+ near-dup bar p ~ 0.86 and T collapses to
#: single digits; the fixture's low bar is what makes T grow.)
import math as _math

_SRP_P = 1 - _math.acos(0.40) / _math.pi
SRP_SCALED_TABLES = {
    b: _math.ceil(_math.log(0.4) / _math.log(1 - _SRP_P**b))
    for b in range(SRP_SCALED_MIN_BITS, SRP_SCALED_MAX_BITS + 1)
}
SRP_SCALED_RECALL_FLOOR_PCT = 30


def _srp_scaled_bits(n: int) -> int:
    for b in range(SRP_SCALED_MIN_BITS, SRP_SCALED_MAX_BITS):
        if n <= SRP_SCALED_TARGET_BUCKET * (1 << b):
            return b
    return SRP_SCALED_MAX_BITS


_SRP_SCALED_ORACLE = f"""
WITH c AS (SELECT COUNT(*) AS n FROM embeddings),
p AS (
  SELECT CASE
    {" ".join(f"WHEN n <= {SRP_SCALED_TARGET_BUCKET * (1 << b)} THEN {b}" for b in range(SRP_SCALED_MIN_BITS, SRP_SCALED_MAX_BITS))}
    ELSE {SRP_SCALED_MAX_BITS} END AS bits
  FROM c
)
SELECT CAST(bits AS BIGINT) AS bits,
       CAST(CASE bits
         {" ".join(f"WHEN {b} THEN {t}" for b, t in SRP_SCALED_TABLES.items())}
       END AS BIGINT) AS n_tables,
       1 AS recall_floor_ok
FROM p
"""


@query("dedup_semantic_srp_scaled", oracle=_SRP_SCALED_ORACLE)
def dedup_semantic_srp_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION config of SRP semantic dedup: bucket width
    scales with the corpus (bits = log2(n / {SRP_SCALED_TARGET_BUCKET})),
    tables scale to hold >= 60% theoretical recall at the accept bar,
    and the result is GATED on the fixed-width value-hash-oracled
    anchor (dedup_semantic_srp) with a
    >= {SRP_SCALED_RECALL_FLOOR_PCT}% pair-recall floor — the
    sim_ann_*_recall pattern. The oracle independently recomputes the
    (bits, n_tables) sizing from COUNT(*) via the same integer
    thresholds, so the config selection itself is differential-checked.
    Candidate work is ~n^2 * T / 2^bits; scaling bits with n holds the
    per-bucket occupancy (and thus candidates per vector) constant
    where the anchor's fixed 6 bits would grow candidates
    quadratically. When bits lands at the anchor's own width (n small
    enough), the scaled table set is a SUPERSET of the anchor's (same
    md5 sign family, tables 0..T-1), so recall is exactly 100% — the
    gate is never vacuous, and at larger n it measures real pruning.
    """
    n = read_table(spark, sf_dir, "embeddings").count()
    bits = _srp_scaled_bits(n)
    n_tables = SRP_SCALED_TABLES[bits]
    scaled = (
        _srp_accepted(spark, sf_dir, bits, n_tables)
        .select("id_a", "id_b")
        .withColumn("hit", F.lit(1))
    )
    anchor = _srp_accepted(spark, sf_dir, SRP_BITS, SRP_TABLES).select("id_a", "id_b")
    gate = anchor.join(scaled, ["id_a", "id_b"], "left").agg(
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        F.count(F.lit(1)).alias("n_anchor"),
    )
    return gate.select(
        F.lit(bits).cast("long").alias("bits"),
        F.lit(n_tables).cast("long").alias("n_tables"),
        (
            F.col("n_hits") * 100
            >= F.lit(SRP_SCALED_RECALL_FLOOR_PCT) * F.col("n_anchor")
        )
        .cast("int")
        .alias("recall_floor_ok"),
    )




def _srp_capped_keys(b: DataFrame, bits: int = SRP_BITS) -> DataFrame:
    """(vec_id, t, key) under the occupancy-capped keying, from a
    WIDE bucket frame (bits = ``bits`` + SRP_CAP_SPLIT_BITS): the
    wide bucket's low ``bits`` are the base bucket; a (t, bk)
    whose occupancy exceeds SRP_CAP_FACTOR x ceil(n / 2^bits)
    keys on the full wide bucket offset by 2^bits (disjoint from
    every light key, which stays < 2^bits). Shared by the
    registered query, the capped index staging, and the pruning pins
    in tests/test_round11.py so the tests exercise the plan's own
    keying."""
    base = 1 << bits
    u = b.select("vec_id", F.posexplode("bks").alias("t", "wb")).withColumn(
        "bk", F.col("wb") % base
    )
    n1 = b.agg(F.count(F.lit(1)).alias("n"))
    # The occupancy frame is <= SRP_TABLES x 2^SRP_BITS = 512 rows BY
    # CONSTRUCTION (a count per (table, anchor bucket) — independent
    # of data volume), so both broadcasts here are pinned bounds,
    # unlike the un-hinted data-sized re-attach joins in
    # _srp_verify_pairs.
    occ = (
        u.groupBy("t", "bk")
        .agg(F.count(F.lit(1)).alias("occ"))
        .crossJoin(F.broadcast(n1))
        .select(
            "t",
            "bk",
            (
                F.col("occ")
                > SRP_CAP_FACTOR * F.floor((F.col("n") + base - 1) / base)
            ).alias("heavy"),
        )
    )
    return u.join(F.broadcast(occ), ["t", "bk"]).select(
        "vec_id",
        "t",
        F.when(F.col("heavy"), F.col("wb") + base)
        .otherwise(F.col("bk"))
        .alias("key"),
    )


def _srp_capped_oracle() -> str:
    """Full DuckDB restatement of the occupancy-capped SRP pairs:
    identical quantization / sign family / accept rule as
    _srp_oracle, with the wide (6+4)-bit bucket computed per table,
    per-(t, bk) occupancy counted, heavy buckets re-keyed to
    wb + 64 (disjoint from every light key since light keys < 64),
    and candidate pairs grouped to carry n_key_hits."""
    return f"""
WITH {_srp_capped_ctes("true")},
np AS (
  SELECT a.vec_id AS id_a, x.vec_id AS id_b, COUNT(*) AS n_key_hits
  FROM k a JOIN k x ON a.t = x.t AND a.key = x.key AND a.vec_id < x.vec_id
  GROUP BY a.vec_id, x.vec_id
),
p AS (
  SELECT np.id_a, np.id_b, np.n_key_hits,
         ba.qv AS qa, bb.qv AS qb, ba.nrm AS na, bb.nrm AS nb
  FROM np
  JOIN b ba ON ba.vec_id = np.id_a
  JOIN b bb ON bb.vec_id = np.id_b
),
v AS (
  SELECT id_a, id_b, n_key_hits,
         {_SRP_PAIR_DOT} AS dot, na, nb
  FROM p
)
SELECT id_a, id_b, dot,
       CAST(floor(CAST(dot AS DOUBLE)
                  / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS cos_ppm,
       n_key_hits
FROM v
WHERE dot > 0
  AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
      >= {SRP_COS2} * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
"""


@query("dedup_semantic_srp_capped", oracle=_srp_capped_oracle())
def dedup_semantic_srp_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP semantic near-dup pairs with PER-BUCKET OCCUPANCY CAPS —
    the heavy-hitter half of the family's scale posture (the 32x
    NOTE at SRP_BITS records the measurement that demanded it: at
    fixed width, clustered sign-space buckets dominate candidates and
    the verify stage goes ~sum occ^2). Any (table, bucket) whose
    occupancy exceeds SRP_CAP_FACTOR x ceil(n / 2^bits) is re-hashed
    with SRP_CAP_SPLIT_BITS extra hyperplanes of the same md5 sign
    family, splitting the heavy bucket into <= 16 sub-buckets; light
    buckets keep the anchor keying bit-for-bit (the wide bucket's low
    6 bits ARE the anchor bucket, so one Arrow matmul serves both).
    Heavy keys are offset by 2^bits, making the key space disjoint
    by construction. Accepted pairs carry n_key_hits — the number of
    tables whose CAPPED key matched — so the oracle's value hash is
    sensitive to the splitting decision itself, not just the
    surviving pair set (at gate scale the accepted pairs coincide
    with the anchor's; the sf0.1 sweep exercises divergence).

    One split level bounds a heavy bucket's sub-occupancy to
    ~occ / 2^4 in expectation; a pathological sub-bucket can still
    exceed the cap (the recursive treatment is the known extension).
    Recall cost is confined to the clipped tail: a pair split apart
    in one table still matches in any other table sharing a bucket
    (measured sf0.1 recall vs the anchor: 0.97). Plan shape: one
    shuffle keyed (t, bk) for occupancy, one keyed (t, key) for
    candidates — both equi-joins; the occupancy frame is <=
    T x 2^bits = 512 rows BY CONSTRUCTION (independent of data
    volume), so its broadcast is pinned, not data-dependent."""
    b = _srp_bucket_frame(
        read_table_spread(spark, sf_dir, "embeddings"),
        SRP_BITS + SRP_CAP_SPLIT_BITS,
        SRP_TABLES,
    ).localCheckpoint(eager=False)
    k = _srp_capped_keys(b)
    narrow = (
        k.alias("x")
        .join(k.alias("y"), ["t", "key"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .groupBy(
            F.col("x.vec_id").alias("id_a"), F.col("y.vec_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_key_hits"))
    )
    return _srp_verify_pairs(b, narrow, extra_cols=("n_key_hits",)).select(
        "id_a",
        "id_b",
        "dot",
        F.floor(
            F.col("dot").cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("cos_ppm"),
        "n_key_hits",
    )


# ------------------------------------------- minhash mergeability
#: Signature width for the mergeability demonstration (independent of
#: the 32-hash production family; same (a·h+b) mod p permutations).
MERGE_NH = 16
_MERGE_P = (1 << 61) - 1


def _merge_minhash_oracle() -> str:
    p = _MERGE_P

    def perm(i: int, h: str) -> str:
        return f"({2 * i + 1} * {h} + {1_000_003 * (i + 1)}) % {p}"

    full = ", ".join(f"MIN({perm(i, 'h32')}) AS f{i}" for i in range(MERGE_NH))
    even = ", ".join(
        f"MIN(CASE WHEN par = 0 THEN {perm(i, 'h32')} END) AS e{i}"
        for i in range(MERGE_NH)
    )
    odd = ", ".join(
        f"MIN(CASE WHEN par = 1 THEN {perm(i, 'h32')} END) AS o{i}"
        for i in range(MERGE_NH)
    )
    match = " AND ".join(
        f"LEAST(COALESCE(e{i}, {p}), COALESCE(o{i}, {p})) = f{i}"
        for i in range(MERGE_NH)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS g FROM t
), h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 4294967296 AS h32,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 2 AS par
  FROM s
), m AS (
  SELECT doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even,
         {full}, {even}, {odd}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_even,
       CAST(f0 AS BIGINT) AS sig0,
       ({match}) AS merged_matches
FROM m
"""


@query("sketch_minhash_mergeable", oracle=_merge_minhash_oracle())
def sketch_minhash_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROOF-CARRYING mergeability check for minhash signatures — the
    commutative-monoid property (elementwise min, identity = the
    all-p signature) that makes distributed and incremental minhash
    correct: each doc's shingles are split into two arbitrary
    partitions (by hash parity), the two partial signatures are
    min-merged, and the result is asserted EQUAL to the whole-doc
    signature in the hashed output (``merged_matches`` must be
    uniformly true — rollup_incremental_merge's invariant applied to
    the sketch family). Empty partitions take the monoid identity
    via COALESCE(., p).

    One explode + ONE grouped aggregate computes all three signature
    variants (full/even/odd) as conditional mins over the same rows
    — the partials are map-side-combinable, which IS the property
    being demonstrated. Portable md5 family end-to-end, so DuckDB
    replays the whole theorem."""
    from gcd_etl_spark.functions.text import shingles
    from gcd_etl_spark.operators.dedup import portable_hash64

    p = _MERGE_P
    docs = read_table_spread(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(F.expr(shingles("text", k=3))).alias("g")
    ).select(
        "doc_id",
        (portable_hash64("g") % F.lit(1 << 32)).alias("h32"),
        (portable_hash64("g") % 2).alias("par"),
    )

    def perm(i, h):
        return (F.lit(2 * i + 1) * h + F.lit(1_000_003 * (i + 1))) % F.lit(p)

    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum((F.col("par") == 0).cast("long")).cast("long").alias("n_even"),
    ]
    for i in range(MERGE_NH):
        aggs.append(F.min(perm(i, F.col("h32"))).alias(f"f{i}"))
        aggs.append(
            F.min(F.when(F.col("par") == 0, perm(i, F.col("h32")))).alias(f"e{i}")
        )
        aggs.append(
            F.min(F.when(F.col("par") == 1, perm(i, F.col("h32")))).alias(f"o{i}")
        )
    m = ex.groupBy("doc_id").agg(*aggs)
    match = None
    for i in range(MERGE_NH):
        eq = (
            F.least(
                F.coalesce(F.col(f"e{i}"), F.lit(p)),
                F.coalesce(F.col(f"o{i}"), F.lit(p)),
            )
            == F.col(f"f{i}")
        )
        match = eq if match is None else (match & eq)
    return m.select(
        "doc_id",
        "n_shingles",
        "n_even",
        F.col("f0").cast("long").alias("sig0"),
        match.alias("merged_matches"),
    )


# ------------------------------------------ exact-duplicate vectors
_EMB_EXACT_ORACLE = """
WITH q AS (
  SELECT vec_id,
         md5(array_to_string(list_transform(CAST(embedding AS DOUBLE[]),
             x -> CAST(CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS VARCHAR)),
             ',')) AS vec_hash
  FROM embeddings
)
SELECT vec_hash, CAST(MIN(vec_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM q GROUP BY vec_hash
"""


@query("dedup_exact_embeddings", oracle=_EMB_EXACT_ORACLE)
def dedup_exact_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate detection in EMBEDDING space: quantize once to
    integer micros (the ml_knn discipline — float bit-patterns are
    not a join key; quantized integers are), serialize, md5, group —
    the dedup_exact recipe lifted from text to vectors. Catches
    repeated content that entered the corpus through different
    documents (mirrors, re-crawls) whose embeddings collide exactly,
    the cheap first pass before dedup_semantic_srp's near-dup sweep.
    One hash-key shuffle with map-side partials; min-id keeper."""
    emb = read_table_spread(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.md5(
            F.array_join(
                F.transform(
                    "embedding",
                    lambda x: F.floor(x.cast("double") * 1_000_000 + 0.5)
                    .cast("long")
                    .cast("string"),
                ),
                ",",
            )
        ).alias("vec_hash"),
    )
    return q.groupBy("vec_hash").agg(
        F.min("vec_id").cast("long").alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )
