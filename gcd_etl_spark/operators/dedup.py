"""Deduplication operators for large-scale corpus curation.

Four tiers, all expressed as shuffle-disciplined DataFrame plans (no
driver-side materialization, no Python in the hot path):

* exact        — normalize -> hash -> groupBy(hash) -> keep min id.
                 One shuffle on a 128-bit key; scale-optimal.
* minhash_lsh  — shingle -> k minhashes -> b bands -> shuffle only on
                 (band, band_hash) buckets -> verify candidates with
                 exact Jaccard. The classic sub-quadratic near-dup.
* simhash      — 64-bit sign-summed token-hash fingerprint; near-dups
                 collide on rotated prefix buckets (hamming-ball
                 probing is a verify-stage filter).
* ngram_jaccard— exact all-pairs Jaccard *within LSH buckets* (the
                 verify stage exposed standalone; on tiny fixtures it
                 can run bucket-free as ground truth).

Scale notes: every operator shuffles on a hash/bucket key with
near-uniform distribution — no skew by construction (heavy buckets
only appear when the corpus truly contains massive duplicate
clusters; the LSH band width bounds the verify fan-out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcd_etl_spark.functions.text import shingles, ws_tokens

#: Large Mersenne prime for the minhash permutation family
#: (standard (a*x + b) mod p construction; see Broder '97).
_MERSENNE_P = (1 << 61) - 1


def normalized(col) -> F.Column:
    """Dedup-canonical text: trimmed, lowercased, whitespace-collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one output row per distinct normalized
    text — the surviving (min) id, the duplicate count, and the hash.

    Plan shape: project(md5) -> partial agg -> exchange(hash) -> agg.
    At 100 TB only (hash, partial-min, partial-count) rows shuffle.
    """
    return (
        df.select(F.col(id_col), F.md5(normalized(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def portable_hash64(col) -> F.Column:
    """Engine-portable 60-bit string hash: ``int(md5(s)[:15], 16)``.

    md5 is bit-identical everywhere, and 15 hex digits fit a signed
    long, so minhash built on THIS base hash produces the same
    signatures in Spark (``conv``) and DuckDB (``('0x'||h)::BIGINT``)
    — which is what lets the full LSH pipeline be held to an exact
    value-hash oracle instead of a rows-only check. ~2x the cost of
    xxhash64; the default pipeline keeps xxhash64 for production.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _portable_hash64_sql(expr: str) -> str:
    """``portable_hash64`` as SQL text, for the minhash projections
    (the DuckDB-oracled minhash queries pin the two to each other)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k_shingle: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(_id, sig) via explode + codegen'd min-aggregation.

    The relational formulation of minhash: one row per (doc, shingle),
    then ``groupBy(doc).agg(min(h_i))`` for each permutation. Unlike
    an array-fold expression over the shingle array, every operator
    here is whole-stage-codegen'd with map-side partial aggregation —
    at 100 TB only (doc_id, 32 partial minima) rows shuffle, and the
    identical subplan is exchange-reusable on both sides of the
    LSH self-join. Shingle-less docs drop out via the explode (they
    cannot near-dup; keeping a degenerate signature would funnel every
    short doc into one LSH bucket -> quadratic pair explosion).
    """
    base = _portable_hash64_sql("_g") if portable else "abs(xxhash64(_g))"
    h = f"({base} % {1 << 32})"
    aggs = [
        F.expr(f"min(({2 * i + 1} * {h} + {1_000_003 * (i + 1)}) % {_MERSENNE_P}) AS _m{i}")
        for i in range(num_hashes)
    ]
    exploded = df.selectExpr(f"{id_col} AS _id", f"explode({shingles(text_col, k_shingle)}) AS _g")
    mins = exploded.groupBy("_id").agg(*aggs)
    sig = ", ".join(f"_m{i}" for i in range(num_hashes))
    return mins.selectExpr("_id", f"array({sig}) AS sig")


def minhash_band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(_id, band_idx, band_hash): the banded-signature LSH index rows
    for every document. This IS the persistable corpus index — two
    docs are near-dup candidates iff they share a row's (band_idx,
    band_hash). Factored out of ``minhash_lsh_candidates`` so the
    self-join path and the delta-vs-persisted-index path
    (plans/dedup.dedup_delta_vs_corpus) share one definition."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int) -> str:
        sl = f"slice(sig, {b * rows_per_band + 1}, {rows_per_band})"
        if portable:
            # md5 of the comma-joined decimal minima — same string
            # DuckDB's array_to_string produces
            return f"md5(array_join(transform({sl}, x -> CAST(x AS STRING)), ','))"
        return f"CAST(xxhash64(CAST({sl} AS STRING)) AS STRING)"

    structs = ", ".join(
        f"struct({b} AS band_idx, {band_hash(b)} AS band_hash)" for b in range(bands)
    )
    sig = minhash_signature_table(df, text_col, id_col, num_hashes, k_shingle, portable)
    band = f"explode(array({structs})) AS band"
    return sig.selectExpr("_id", band).select("_id", "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    rows_per_band = num_hashes/bands; two docs become a candidate pair
    iff some band of their signatures is identical. Output: distinct
    (id_a < id_b) pairs. The only shuffles are the signature groupBy
    and the join on (band_idx, band_hash) — bucket keys, not document
    keys. ``portable=True`` swaps both the base hash and the band
    hash to md5-derived forms DuckDB reproduces bit-for-bit (the
    oracle-checked configuration; see ``portable_hash64``).
    """
    banded = minhash_band_table(
        df, text_col, id_col, num_hashes, bands, k_shingle, portable
    )
    # Pair generation inside buckets: self-join on the bucket key.
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
) -> DataFrame:
    """(_sid, _shingles): the per-document shingle sets the Jaccard
    verify joins against — factored out (round 13) so callers can
    hand ``jaccard_pairs`` a SMALLER side (the delta/batch frame when
    every id_a is a delta id) or a pre-materialized one (the
    streaming gates checkpoint the corpus side once per run instead
    of re-shingling the whole corpus inside every micro-batch)."""
    return df.selectExpr(f"{id_col} AS _sid", f"{shingles(text_col, k_shingle)} AS _shingles")


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.5,
    sets_a: DataFrame | None = None,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Verify stage: exact shingle-Jaccard for candidate pairs.

    Joins the (id_a, id_b) candidates back to shingle sets and keeps
    pairs with J >= threshold. Join keys are document ids — candidates
    are a tiny fraction of n^2, so this stays cheap.

    ``sets_a`` / ``sets_b`` (round 13) override the per-side shingle
    frame (built with ``shingle_sets``; must cover every id the
    corresponding pair column can hold). The delta/streaming callers
    use this to stop shingling the WHOLE corpus on the delta side of
    the join (the delta frame covers every id_a) and to re-shingle it
    per MICRO-BATCH on the corpus side (a once-per-run checkpointed
    frame covers every batch). The join/filter shape is unchanged —
    the per-side shingle arrays stay materialized BELOW the join, so
    the two-sided threshold predicate that Catalyst pushes into the
    join condition keeps operating on cheap array references. (The
    obvious alternative — joining raw text and shingling after the
    join — inlines the full shingle construction ~6x into that join
    condition and measured 2.3 s -> 41 s on dedup_minhash_lsh at
    sf0.1; see OPTIMIZATION_r13.md.)
    """
    sets_df = shingle_sets(df, text_col, id_col, k_shingle)
    a = (sets_df if sets_a is None else sets_a).alias("a")
    b = (sets_df if sets_b is None else sets_b).alias("b")
    inter = F.size(F.array_intersect(F.col("a._shingles"), F.col("b._shingles")))
    union = F.size(F.array_union(F.col("a._shingles"), F.col("b._shingles")))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        pairs.join(a, pairs.id_a == F.col("a._sid"))
        .join(b, pairs.id_b == F.col("b._sid"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    portable: bool = False,
) -> DataFrame:
    """End-to-end near-dup pairs: LSH candidates -> Jaccard verify."""
    cands = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands, k_shingle, portable)
    return jaccard_pairs(df, cands, text_col, id_col, k_shingle, threshold)


def simhash64(text_col: str) -> F.Column:
    """64-bit SimHash of whitespace tokens, as a signed long.

    Each token votes ±1 per bit position of its xxhash64; the
    fingerprint takes the sign of each bit's sum. Near-identical
    documents differ in few bits (small hamming distance). Pure
    expression: aggregate over a 64-slot int array.
    """
    toks = F.expr(ws_tokens(text_col))
    zero64 = F.array_repeat(F.lit(0), 64)

    def token_bits(t):
        return F.array(
            *[
                F.when(F.shiftright(F.xxhash64(t), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for b in range(64)
            ]
        )

    bit_votes = F.aggregate(
        toks, zero64, lambda acc, t: F.zip_with(acc, token_bits(t), lambda x, y: x + y)
    )
    # Pack sign bits into one signed long (bit 63 is the sign bit).
    packed = F.lit(0).cast("long")
    for b in range(64):
        weight = (1 << b) if b < 63 else -(1 << 63)
        packed = packed.bitwiseOR(
            F.when(F.element_at(bit_votes, b + 1) > 0, F.lit(weight).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return packed


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate clusters from near-dup pairs by hook-and-jump rounds
    over the edge endpoints. Output: (id_col, cluster_id), one row per
    distinct id; cluster_id is the smallest member id, singletons keep
    their own id.

    Labels exist only for edge endpoints, starting at
    L(v) = min(v, min N(v)). Each round of the driver loop:

    * joins every directed edge (u, v) to L(u) and L(v), lazily
      local-checkpointed, so lineage stays one round deep;
    * runs its one action, the exact end test: does any edge have
      L(u) != L(v)? Labels are ids inside their component and never
      rise, and the component's minimum id keeps its own id, so a
      labeling that agrees on every edge IS the component minimum —
      no confirming round;
    * hooks: u and u's parent L(u) both take min(., L(v)), the parent
      hook of Shiloach-Vishkin and FastSV (Zhang, Azad & Hu, 2020);
    * jumps: L(x) <- min(L(x), L(L(x))).

    Hooking the parent is what makes the round count grow with log n
    in practice instead of with the component diameter: a
    10,000-node chain converges in 13 rounds with sorted ids and 12
    with randomly permuted ids, while propagate-and-jump without the
    parent hook had not converged on the permuted chain after 60
    rounds. The benchmark's corpus_dedup graph (seed 1) passes the end
    test on its first round. No bound is proven: past ``max_iter``
    rounds the operator raises instead of returning partially merged
    labels.

    Contract: ``nodes`` must cover every id appearing in ``pairs``
    (every in-repo caller derives pairs FROM nodes).
    """
    # Both directions from ONE pass over the pairs: a union of two
    # selects would run the pair stage (the verify join and its
    # Jaccard) once per branch. The edge list joins into every round,
    # so it is materialized once instead of re-running pair discovery
    # per round.
    edges = (
        pairs.selectExpr("stack(2, id_a, id_b, id_b, id_a) AS (src, dst)")
        .where("src != dst")
        .localCheckpoint(eager=True)
    )
    labels = edges.groupBy("src").agg(F.expr("least(src, min(dst)) AS label"))
    for _ in range(max_iter):
        e2 = (
            edges.join(labels.selectExpr("src", "label AS _lu"), "src")
            .join(labels.selectExpr("src AS dst", "label AS _lv"), "dst")
            .localCheckpoint(eager=False)
        )
        if e2.where("_lu != _lv").limit(1).count() == 0:
            break
        # The next labels come from this round's checkpointed e2 alone:
        # deriving them from the previous lazy labels frame makes the
        # jump's self-join plan grow exponentially with the rounds.
        hooked = (
            e2.selectExpr("stack(3, src, _lu, src, _lv, _lu, _lv) AS (src, label)")
            .groupBy("src")
            .agg(F.expr("min(label) AS label"))
        )
        labels = hooked.join(
            hooked.selectExpr("src AS label", "label AS _pl"), "label", "left"
        ).selectExpr("src", "least(label, _pl) AS label")
    else:
        # A graph that needs more rounds would return partially merged
        # cluster ids SILENTLY, which mismatches any transitive-closure
        # oracle. Fail loudly; callers can raise max_iter.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; labels are partially propagated"
        )
    # One aggregate labels every node: a node on no edge has only the
    # NULL label of its own row and keeps its own id.
    return (
        nodes.select(F.col(id_col).alias("src"))
        .unionByName(e2.selectExpr("src", "_lu AS label"), allowMissingColumns=True)
        .groupBy("src")
        .agg(F.expr("coalesce(min(label), src) AS cluster_id"))
        .withColumnRenamed("src", id_col)
    )


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", portable: bool = False
) -> DataFrame:
    """(_id, fp) SimHash via explode + codegen'd sum-aggregation.

    Relational formulation of ``simhash64``: one row per (doc, token),
    64 ``sum(±1)`` bit votes per doc, then sign-pack. Same output,
    but whole-stage codegen + map-side partial aggregation instead of
    an interpreted array fold (~10x at sf0.1), and only
    (doc_id, 64 partial sums) rows shuffle at 100 TB. Token-less docs
    drop out (they'd otherwise all share fingerprint 0 and pairwise-
    collide in the bucketing stage).

    ``portable=True`` uses the md5-derived 60-bit hash family
    (``portable_hash64``) so DuckDB can restate the fingerprints
    exactly — 60 vote bits instead of 64, no sign bit.
    """
    nbits = 60 if portable else 64
    exploded = df.select(F.col(id_col).alias("_id"), F.explode(F.expr(ws_tokens(text_col))).alias("_t"))
    h = portable_hash64("_t") if portable else F.xxhash64("_t")
    aggs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(nbits)
    ]
    votes = exploded.groupBy("_id").agg(*aggs)
    packed = F.lit(0).cast("long")
    for b in range(nbits):
        weight = (1 << b) if b < 63 else -(1 << 63)
        packed = packed.bitwiseOR(
            F.when(F.col(f"_b{b}") > 0, F.lit(weight).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("_id", packed.alias("fp"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_tables: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash with rotated-block bucketing.

    The fingerprint splits into ``n_tables`` 16-bit blocks (15-bit in
    the 60-bit portable family); by the pigeonhole principle two
    fingerprints within hamming distance ``n_tables - 1`` share at
    least one exact block, so bucketing on (block_idx, block_value)
    finds all such pairs with no n^2 scan. Verify stage computes the
    exact hamming distance.
    """
    nbits = 60 if portable else 64
    bits_per_block = nbits // n_tables
    mask = (1 << bits_per_block) - 1
    fp = simhash_table(df, text_col, id_col, portable)
    blocks = fp.select(
        "_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned(F.col("fp"), i * bits_per_block)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for i in range(n_tables)
                ]
            )
        ).alias("blk"),
    ).select("_id", "fp", "blk.block_idx", "blk.block_val")
    l, r = blocks.alias("l"), blocks.alias("r")
    hamming = F.bit_count(F.col("l.fp").bitwiseXOR(F.col("r.fp")))
    return (
        l.join(
            r,
            (F.col("l.block_idx") == F.col("r.block_idx"))
            & (F.col("l.block_val") == F.col("r.block_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
