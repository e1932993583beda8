"""Round-12 registrants and hardening: the CAPPED semantic-dedup
lifecycle promoted to the production default (round-11 verdict item
1), plus the ADVICE round-11 fixes (short-doc bigram guard,
substring-to-end parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcd_etl_spark.plans import QUERIES


# ----------------- capped semantic lifecycle (verdict r11 item 1)
def test_capped_delta_subset_of_uncapped_anchor(spark, sf_smoke):
    """Splitting a heavy bucket can only REMOVE candidates (a capped
    key match implies the anchor-bucket match), and verification is
    the shared exact integer-dot stage — so the capped delta result
    must be a subset of the fixed-width anchor's, with identical
    values on shared pairs. Non-vacuous: the capped result is
    non-empty on the fixture."""
    capped = {
        tuple(r)
        for r in QUERIES["dedup_semantic_delta_vs_corpus_capped"]
        .build(spark, sf_smoke)
        .collect()
    }
    anchor = {
        tuple(r)
        for r in QUERIES["dedup_semantic_delta_vs_corpus"]
        .build(spark, sf_smoke)
        .collect()
    }
    assert capped, "capped delta result empty on the fixture (vacuous)"
    assert capped <= anchor


def test_capped_index_exercises_heavy_keys(spark, sf_smoke):
    """The splitting decision itself must be exercised at smoke scale
    (otherwise the capped queries test nothing the anchor doesn't):
    the staged capped index holds at least one heavy key (>= 2^bits)
    AND at least one light key."""
    from gcd_etl_spark.plans.dedup import (
        DELTA_MOD,
        SRP_BITS,
        ensure_srp_bucket_index,
    )
    from gcd_etl_spark.sources.catalog import read_table_spread

    emb = read_table_spread(spark, sf_smoke, "embeddings")
    idx = ensure_srp_bucket_index(
        spark, sf_smoke, emb.where(F.col("vec_id") % DELTA_MOD != 0), capped=True
    )
    base = 1 << SRP_BITS
    row = idx.agg(
        F.sum((F.col("bk") >= base).cast("long")).alias("heavy"),
        F.sum((F.col("bk") < base).cast("long")).alias("light"),
    ).collect()[0]
    assert row["heavy"] > 0, "no heavy bucket split at smoke scale"
    assert row["light"] > 0


def test_capped_probe_empty_delta_is_empty(spark, sf_smoke):
    """An empty arriving delta must yield an empty verdict frame (the
    streaming gate's no-op micro-batch)."""
    from gcd_etl_spark.plans.dedup import (
        DELTA_MOD,
        _srp_capped_probe_cands,
        ensure_srp_bucket_index,
    )
    from gcd_etl_spark.sources.catalog import read_table_spread

    emb = read_table_spread(spark, sf_smoke, "embeddings")
    idx = ensure_srp_bucket_index(
        spark, sf_smoke, emb.where(F.col("vec_id") % DELTA_MOD != 0), capped=True
    )
    assert _srp_capped_probe_cands(idx, emb.where(F.lit(False))).count() == 0


def test_stream_gate_capped_equals_nightly(spark, sf_smoke):
    """Batch boundaries cannot change the answer: the streaming capped
    gate's union over micro-batches equals the one-shot nightly capped
    delta query, value-for-value."""
    gate = {
        tuple(r)
        for r in QUERIES["stream_semantic_dedup_gate_capped"]
        .build(spark, sf_smoke)
        .collect()
    }
    nightly = {
        tuple(r)
        for r in QUERIES["dedup_semantic_delta_vs_corpus_capped"]
        .build(spark, sf_smoke)
        .collect()
    }
    assert gate == nightly


# -------------------------- ADVICE round 11: short-document safety
def test_frozen_scorers_survive_short_documents(spark, sf_smoke):
    """A 0- or 1-token arriving document must not fail the gate's
    micro-batch (the unguarded sequence(1, size-1) descended through
    index 0 and threw INVALID_ARRAY_INDEX_IN_ELEMENT_AT): both frozen
    scorers now yield zero bigram features and score the unigrams
    (or drop the empty doc) instead of erroring."""
    from gcd_etl_spark.plans.corpus import (
        DSIR_STANDING_TAG,
        ensure_bigram_lm_index,
        ensure_dsir_model,
        score_docs_frozen_bigram_lm,
        score_docs_frozen_dsir,
    )
    from gcd_etl_spark.plans.dedup import DELTA_MOD
    from gcd_etl_spark.sources.catalog import read_table_spread

    docs = read_table_spread(spark, sf_smoke, "documents")
    corpus = docs.where(F.col("doc_id") % DELTA_MOD != 0)
    short = spark.createDataFrame(
        [(900001, "word"), (900002, ""), (900003, "  ,  ")],
        "doc_id long, text string",
    )
    model = ensure_dsir_model(spark, sf_smoke, corpus, filter_tag=DSIR_STANDING_TAG)
    got = score_docs_frozen_dsir(short, model).collect()
    # the 1-token doc scores its unigram; the empty docs yield no rows
    assert {r["doc_id"] for r in got} == {900001}
    costs, ctx = ensure_bigram_lm_index(spark, sf_smoke, corpus)
    score_docs_frozen_bigram_lm(short, costs, ctx).collect()  # must not throw


def test_ensure_dsir_model_filter_tag_keys_table(spark, sf_smoke):
    """A caller training on a different filtration must get a
    DIFFERENT persisted artifact (ADVICE round 11: the default name
    keyed only on the full-documents fingerprint, silently reusing a
    mismatched model)."""
    from gcd_etl_spark.plans.corpus import (
        DSIR_STANDING_TAG,
        ensure_dsir_model,
    )
    from gcd_etl_spark.plans.dedup import DELTA_MOD
    from gcd_etl_spark.sources.catalog import read_table_spread

    docs = read_table_spread(spark, sf_smoke, "documents")
    corpus = docs.where(F.col("doc_id") % DELTA_MOD != 0)
    half = corpus.where(F.col("doc_id") % 2 == 0)
    base = ensure_dsir_model(spark, sf_smoke, corpus, filter_tag=DSIR_STANDING_TAG)
    tagged = ensure_dsir_model(spark, sf_smoke, half, filter_tag="even-half")
    rows = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert rows(base) != rows(tagged)


# ------------------- HOF dot == unrolled dot (codegen retirement)
def test_dot_hof_equals_unrolled(spark):
    """The higher-order fold and the unrolled balanced tree must be
    bit-identical on int64 vectors spanning sign/magnitude edges —
    the substitution that retired the SRP verify codegen fallback is
    a pure expression-shape change."""
    import random

    from gcd_etl_spark.functions.vector import dot_fixed_long, dot_hof_long

    rng = random.Random(12)
    rows = []
    for _ in range(50):
        a = [rng.randint(-1_000_000, 1_000_000) for _ in range(64)]
        b = [rng.randint(-1_000_000, 1_000_000) for _ in range(64)]
        rows.append((a, b))
    rows.append(([0] * 64, [0] * 64))
    rows.append(([1_000_000] * 64, [1_000_000] * 64))
    rows.append(([-1_000_000] * 64, [1_000_000] * 64))
    df = spark.createDataFrame(rows, "a array<long>, b array<long>")
    got = df.select(
        dot_fixed_long("a", "b", 64).alias("u"),
        dot_hof_long("a", "b").alias("h"),
    ).collect()
    for r in got:
        assert r["u"] == r["h"]
    # and both match the python ground truth on the last pinned row
    assert got[-1]["u"] == sum(-1_000_000 * 1_000_000 for _ in range(64))


# ---------------- PNG/JPEG real header decode (verdict r11 item 5)
def test_png_jpeg_parse_quarantines_corrupt_bytes():
    """The parser must degrade to partial/unknown metadata on
    truncated or desynchronized input — never throw (a 100 TB scan
    quarantines, it doesn't die)."""
    from gcd_etl_spark.operators.multimodal import (
        parse_media_header,
        synthesize_image_file,
    )

    png, jpeg = synthesize_image_file(4), synthesize_image_file(5)
    for broken in (
        png[:8],  # signature only, no chunks
        png[:20],  # truncated mid-IHDR
        jpeg[:2],  # SOI only
        jpeg[:6],  # truncated mid-APP0
        jpeg[:2] + b"\x00" + jpeg[3:],  # desynchronized marker stream
        b"",  # empty payload
        None,
    ):
        r = parse_media_header(broken)
        assert isinstance(r, dict)  # no throw is the contract
    # and a parser that ignores the chunk walk can't fake it: a PNG
    # with an extra ancillary chunk BEFORE IHDR-bearing data still
    # parses (chunk stride exercised)
    import struct
    import zlib

    extra = (
        struct.pack(">I", 3)
        + b"tEXt"
        + b"abc"
        + struct.pack(">I", zlib.crc32(b"tEXt" + b"abc"))
    )
    shuffled = png[:8] + png[8:33] + extra + png[33:]
    r = parse_media_header(shuffled)
    assert (r["format"], r["width"], r["height"]) == ("png", 1 + 4 % 48, 1 + 4 % 40)
    # JPEG restart markers (standalone, no length field) must be
    # stepped over, not parsed as segments
    rst = jpeg[:2] + b"\xff\xd0" + jpeg[2:]
    r = parse_media_header(rst)
    assert (r["format"], r["width"], r["height"]) == ("jpeg", 1 + 5 % 56, 1 + 5 % 40)


# -------------- mined-only bitext + sampled gate (verdict r11 item 4)
def test_bitext_mined_pairs_match_shortlist_mining(spark, sf_smoke):
    """The no-gate production miner must mine exactly what the
    shortlist anchor form mines (same persisted index, same shared
    margin arithmetic — only the gate differs), and be non-empty on
    the fixture."""
    from gcd_etl_spark.operators.similarity import ivf_cells_udf
    from gcd_etl_spark.plans.similarity import (
        _bitext_cos_ppm,
        _bitext_mine,
        _bitext_sides,
        bitext_mined_pairs,
        bitext_nprobe,
        ensure_bitext_target_index,
    )
    from gcd_etl_spark.sources.catalog import read_table_spread

    got = {tuple(r) for r in bitext_mined_pairs(spark, sf_smoke).collect()}
    assert got, "production miner mined nothing on the fixture (vacuous)"
    emb = read_table_spread(spark, sf_smoke, "embeddings")
    a, b = _bitext_sides(emb)
    tgt, cent = ensure_bitext_target_index(spark, sf_smoke, b)
    src = a.select(
        "src_id",
        "qa",
        "na",
        F.explode(ivf_cells_udf(cent, bitext_nprobe(len(cent)))(F.col("src_vec"))).alias(
            "cell"
        ),
    )
    cand = tgt.join(F.broadcast(src), "cell").select(
        "src_id", "tgt_id", "qa", "na", "qb", "nb"
    )
    want = {tuple(r) for r in _bitext_mine(_bitext_cos_ppm(cand)).collect()}
    assert got == want


def test_bitext_mined_pairs_plan_is_equi_key_only(spark, sf_smoke):
    """The production miner's plan must be free of nested-loop /
    cartesian joins (unlike the anchor forms, it has NO in-plan exact
    gate — that is its entire reason to exist)."""
    import contextlib
    import io

    from gcd_etl_spark.plans.similarity import bitext_mined_pairs

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bitext_mined_pairs(spark, sf_smoke).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bitext_mined_gate_flag_and_sample_bound(spark, sf_smoke):
    """The registered sampled gate must flag green on the fixture
    (recall@1 measured 0.89 at smoke vs the 0.70 floor) and emit at
    most BITEXT_GATE_SAMPLE rows — the bound that makes it runnable
    at any scale."""
    from gcd_etl_spark.plans.similarity import BITEXT_GATE_SAMPLE

    rows = (
        QUERIES["sim_bitext_margin_mined"].build(spark, sf_smoke).collect()
    )
    assert 0 < len(rows) <= BITEXT_GATE_SAMPLE
    assert all(r["recall_floor_ok"] == 1 for r in rows)
