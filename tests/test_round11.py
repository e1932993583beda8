"""Round-11 registrants and hardening: the bucket-count scaling rule,
the run-unique shard staging path, and the exact hi/lo-split Zipf
moments (ADVICE round 10)."""

from __future__ import annotations

from gcd_etl_spark.plans import QUERIES


# ------------------------- bucket-count scaling rule (verdict item 6)
def test_suggest_bucket_count_scaling_rule():
    """The round-7 measurement, codified: fixture-scale sources stay
    on the historical 16-bucket layout (every existing file-level pin
    survives), 4x the sf0.1 corpus crosses to 64, growth is monotone,
    power-of-two, and clamped at both ends."""
    from gcd_etl_spark.sources.sinks import (
        BUCKET_COUNT_MAX,
        BUCKET_TARGET_SOURCE_BYTES,
        suggest_bucket_count,
    )

    sf01_docs = 594_568  # on-disk bytes of sf0.1 documents.parquet
    assert suggest_bucket_count(0) == 16
    assert suggest_bucket_count(65_049) == 16  # sf0.01 documents
    assert suggest_bucket_count(sf01_docs) == 16  # historical layout
    assert suggest_bucket_count(4 * sf01_docs) == 64  # the r7 lesson
    assert suggest_bucket_count(100 * sf01_docs) == 1024
    assert suggest_bucket_count(10**15) == BUCKET_COUNT_MAX  # clamp
    # monotone + power-of-two across the whole curve
    prev = 0
    for scale in range(1, 40):
        n = suggest_bucket_count(scale * BUCKET_TARGET_SOURCE_BYTES)
        assert n >= prev
        assert n & (n - 1) == 0
        prev = n
    # floor override (bitext keeps its historical 8-way fixture split)
    assert suggest_bucket_count(0, floor=8) == 8


def test_suggest_bucket_count_for_reads_source(sf_smoke):
    from gcd_etl_spark.sources.sinks import (
        source_table_bytes,
        suggest_bucket_count_for,
    )

    assert source_table_bytes(sf_smoke, "documents") > 0
    assert suggest_bucket_count_for(sf_smoke, "documents") == 16
    # missing table degrades to the floor, never raises
    assert suggest_bucket_count_for(sf_smoke, "no_such_table") == 16


# ---------------------- run-unique shard staging (ADVICE round 10 #2)
def test_shuffle_shards_staging_path_is_run_unique():
    """Two concurrent runs on the same sf basename must not share a
    staging directory (the write/read-back race ADVICE flagged); the
    path is stable WITHIN a process so the layout test can find it."""
    from gcd_etl_spark.plans.corpus import (
        _SHUFFLE_WRITE_RUN_ID,
        shuffle_shards_staging_path,
    )

    p1 = shuffle_shards_staging_path("/root/testdata/sf0.001")
    assert p1 == shuffle_shards_staging_path("/root/testdata/sf0.001")
    assert _SHUFFLE_WRITE_RUN_ID in p1
    assert len(_SHUFFLE_WRITE_RUN_ID) == 8
    # different sf dirs still get distinct paths
    assert p1 != shuffle_shards_staging_path("/root/testdata/sf0.01")


# --------------------- exact split Zipf moments (ADVICE round 10 #3)
def test_zipf_fit_split_moments_match_oracle(spark, sf_correct):
    """End-to-end: the hi/lo-split integer moments recombined in
    DOUBLE must still value-match DuckDB exactly at the correctness
    scale (the driver's own comparator shape: collect both, compare
    sorted rows)."""
    import duckdb

    from tests.conftest import oracle_con

    got = QUERIES["stat_zipf_fit"].build(spark, sf_correct).collect()
    con = oracle_con(sf_correct)
    want = con.execute(QUERIES["stat_zipf_fit"].oracle).fetchall()
    con.close()
    assert len(got) == len(want) == 1
    g = got[0]
    assert (g["n_vocab"], g["slope_ppm"], g["intercept_micro"]) == want[0]
    assert g["slope_ppm"] < 0  # Zipf: frequency falls with rank


# ------------------ real container parsing (verdict item 5)
def test_media_parser_roundtrip_and_edge_cases():
    """The parser must read back exactly what the synthesizer wrote
    for every format rotation, AND survive the container features the
    fixture never hits: an extra RIFF chunk before fmt/data (chunk
    walking, not fixed offsets), odd-sized chunks (RIFF even-padding
    rule), a top-down BMP (negative height), PPM comment lines, and
    truncated/alien bytes (quarantine, not throw)."""
    import struct

    from gcd_etl_spark.operators.multimodal import (
        parse_media_header,
        synthesize_media_file,
    )

    for mid in range(0, 30):
        p = synthesize_media_file(mid)
        r = parse_media_header(p)
        if mid % 3 == 0:
            assert r["format"] == "wav"
            assert r["channels"] == 1 + mid % 2
            assert r["sample_rate"] == 8000 * (1 + mid % 5)
            assert r["n_samples"] == 100 + mid % 900
        elif mid % 3 == 1:
            assert r["format"] == "bmp"
            assert (r["width"], r["height"]) == (1 + mid % 64, 1 + mid % 48)
        else:
            assert r["format"] == "ppm"
            assert (r["width"], r["height"]) == (1 + mid % 32, 1 + mid % 24)

    # WAV with a 3-byte (odd) junk chunk BEFORE fmt: even-padding rule
    # must keep the walk aligned or fmt/data are never found
    fmt_body = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    data = bytes(40)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 3 + 1 + 8 + 16 + 8 + len(data))
        + b"WAVE"
        + b"JUNK" + struct.pack("<I", 3) + b"xyz" + b"\x00"  # pad to even
        + b"fmt " + struct.pack("<I", 16) + fmt_body
        + b"data" + struct.pack("<I", len(data)) + data
    )
    r = parse_media_header(wav)
    assert (r["format"], r["channels"], r["sample_rate"], r["n_samples"]) == (
        "wav", 2, 44100, 10,
    )

    # top-down BMP: negative height stored, magnitude reported
    bmp = (
        b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 7, -5, 1, 24, 0, 0, 0, 0, 0, 0)
    )
    r = parse_media_header(bmp)
    assert (r["format"], r["width"], r["height"]) == ("bmp", 7, 5)

    # PPM with comment lines between header fields
    ppm = b"P6\n# a comment\n12 # inline\n34\n255\n" + bytes(12 * 34 * 3)
    r = parse_media_header(ppm)
    assert (r["format"], r["width"], r["height"]) == ("ppm", 12, 34)

    # quarantine paths: alien magic, empty, None
    assert parse_media_header(b"\x89PNG\r\n")["format"] == "unknown"
    assert parse_media_header(b"")["format"] == "unknown"
    assert parse_media_header(None)["format"] == "unknown"


# ---------------------- curriculum staging (round 11)
def test_curriculum_stages_are_monotone_in_score(spark, sf_smoke):
    """Stage must be non-decreasing in the difficulty proxy (longer
    docs never land in an earlier stage than shorter ones), stages
    cover 0..3 with roughly balanced mass, and same-score docs always
    share a stage (the no-tie-hazard design)."""
    rows = QUERIES["corpus_curriculum_order"].build(spark, sf_smoke).collect()
    by_score: dict[int, set] = {}
    for r in rows:
        by_score.setdefault(r["n_tokens"], set()).add(r["stage"])
    assert all(len(s) == 1 for s in by_score.values())
    ordered = sorted((k, next(iter(v))) for k, v in by_score.items())
    stages = [s for _, s in ordered]
    assert stages == sorted(stages)  # monotone in score
    counts: dict[int, int] = {}
    for r in rows:
        counts[r["stage"]] = counts.get(r["stage"], 0) + 1
    assert set(counts) == {0, 1, 2, 3}
    n = len(rows)
    for c in counts.values():
        assert c > n // 8  # no collapsed stage


def test_chunking_module_constants_not_shadowed():
    """Regression pin for the round-11 near-miss: a second chunking
    operator appended to plans/corpus.py rebound the module-level
    CHUNK_STRIDE that the EXISTING chunk_sliding_tokens builder reads
    at build time (its oracle had frozen the old value at import), so
    the two sides silently diverged — caught only by the full parity
    suite. The duplicate operator was removed (chunk_sliding_tokens
    already IS the RAG chunking operator); this test pins the builder
    constant and the oracle constant to each other so a future rebind
    fails loudly here instead."""
    import re

    from gcd_etl_spark.plans import corpus as C

    assert C.CHUNK_SIZE == 128 and C.CHUNK_STRIDE == 96
    oracle = QUERIES["chunk_sliding_tokens"].oracle
    strides = {int(m) for m in re.findall(r"generate_series\(0, GREATEST\(len\(toks\) - 1, 0\), (\d+)\)", oracle)}
    assert strides == {C.CHUNK_STRIDE}


def test_letterbox_geometry_invariants(spark, sf_smoke):
    """Letterbox contract: output fits the canvas, at least one axis
    reaches it (within the 1-px floor-quantization), padding is
    symmetric and fills the remainder, and aspect ratio is preserved
    to within the ppm quantization."""
    from gcd_etl_spark.plans.multimodal import RESIZE_TARGET as T

    rows = QUERIES["mm_resize_letterbox"].build(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 < r["out_w"] <= T and 0 < r["out_h"] <= T
        assert max(r["out_w"], r["out_h"]) >= T - 1  # floor quantization
        assert 0 <= r["pad_x"] <= (T - r["out_w"] + 1) // 2 + 1
        assert 0 <= r["pad_y"] <= (T - r["out_h"] + 1) // 2 + 1
        # aspect preserved: out_w/out_h ~ width/height
        lhs = r["out_w"] * r["height"]
        rhs = r["out_h"] * r["width"]
        tol = r["height"] * r["width"]  # 1-px slack on either axis
        assert abs(lhs - rhs) <= tol


def test_zipf_split_moments_are_int64_safe_at_web_scale():
    """The bound the docstring claims: at 1e9 vocabulary with
    ln-micro-units, each hi/lo partial sum stays inside int64 while
    the naive SUM(x*y) would overflow."""
    import math

    n = 10**9
    x_max = math.log(n) * 1e6  # ln(rank) micro-units
    y_max = math.log(1e12) * 1e6  # ln(count) micro-units, absurd corpus
    p_max = x_max * y_max
    assert n * p_max > 2**63  # the naive moment overflows...
    assert n * (p_max // 2**20) < 2**63  # ...but the hi sum fits
    assert n * (2**20) < 2**63  # and the lo sum fits


# ------------- occupancy-capped SRP (the 32x heavy-hitter rule)
def test_srp_capped_is_subset_of_anchor_with_identical_verify(
    spark, sf_correct
):
    """Splitting only PRUNES candidates: every capped accepted pair
    exists in the anchor's accepted set with the identical exact dot
    and cos_ppm, and n_key_hits stays within [1, SRP_TABLES]."""
    from gcd_etl_spark.plans.dedup import SRP_TABLES

    anchor = {
        (r["id_a"], r["id_b"]): (r["dot"], r["cos_ppm"])
        for r in QUERIES["dedup_semantic_srp"].build(spark, sf_correct).collect()
    }
    capped_rows = (
        QUERIES["dedup_semantic_srp_capped"].build(spark, sf_correct).collect()
    )
    assert capped_rows
    for r in capped_rows:
        assert anchor[(r["id_a"], r["id_b"])] == (r["dot"], r["cos_ppm"])
        assert 1 <= r["n_key_hits"] <= SRP_TABLES


def test_srp_capped_splitting_is_live_at_fixture_scale(spark, sf_correct):
    """The cap actually fires on the gate fixture: heavy buckets
    exist under the relative threshold, the capped keying produces
    strictly FEWER candidate pairs than the anchor keying, and light
    buckets keep the anchor key bit-for-bit (keys < 2^SRP_BITS
    identical to the anchor bucket)."""
    from pyspark.sql import functions as F

    from gcd_etl_spark.plans.dedup import (
        SRP_BITS,
        SRP_CAP_SPLIT_BITS,
        SRP_TABLES,
        _srp_bucket_frame,
        _srp_capped_keys,
    )
    from gcd_etl_spark.sources.catalog import read_table

    base = 1 << SRP_BITS
    emb = read_table(spark, sf_correct, "embeddings")
    b = _srp_bucket_frame(emb, SRP_BITS + SRP_CAP_SPLIT_BITS, SRP_TABLES)
    k = _srp_capped_keys(b).localCheckpoint(eager=False)

    heavy_rows = k.where(F.col("key") >= base).count()
    assert heavy_rows > 0, "no bucket split at fixture scale: cap vacuous"

    def n_pairs(frame, key_col):
        x, y = frame.alias("x"), frame.alias("y")
        return (
            x.join(y, ["t", key_col])
            .where(F.col("x.vec_id") < F.col("y.vec_id"))
            .select("x.vec_id", "y.vec_id")
            .distinct()
            .count()
        )

    anchor_keys = b.select(
        "vec_id", F.posexplode("bks").alias("t", "wb")
    ).select("vec_id", "t", (F.col("wb") % base).alias("bk"))
    assert n_pairs(k, "key") < n_pairs(anchor_keys, "bk")

    # light keys ARE the anchor bucket: joining keyings on
    # (vec_id, t) where key < base must agree everywhere
    j = k.where(F.col("key") < base).join(anchor_keys, ["vec_id", "t"])
    assert j.where(F.col("key") != F.col("bk")).count() == 0


def test_srp_cap_threshold_is_relative_and_composes():
    """The cap is a multiple of the uniform expectation, so it track
    corpus growth (absolute caps would split EVERYTHING once n >>
    2^bits) and composes with the _srp_scaled_bits width rule: at the
    width the scaled rule picks, the same factor yields a bounded
    per-bucket candidate budget regardless of n."""
    import math

    from gcd_etl_spark.plans.dedup import (
        SRP_CAP_FACTOR,
        SRP_SCALED_TARGET_BUCKET,
        _srp_scaled_bits,
    )

    for n in [500, 2_000, 64_000, 10**7, 10**9]:
        bits = _srp_scaled_bits(n)
        cap = SRP_CAP_FACTOR * math.ceil(n / (1 << bits))
        if n <= SRP_SCALED_TARGET_BUCKET * (1 << 16):
            # within the scaled-width regime the expectation is
            # bounded by the target, so the cap is a CONSTANT budget
            assert cap <= SRP_CAP_FACTOR * SRP_SCALED_TARGET_BUCKET
        # per-bucket verify work under the cap is O(cap^2), finite
        # and n-independent at scaled width — never the n^2/2^bits
        # blowup the 32x audit measured at fixed width
        assert cap >= SRP_CAP_FACTOR  # never degenerates to zero


def test_srp_capped_index_lifecycle_probe_both_keys(spark, sf_correct):
    """The production capped-index path end-to-end at the gate
    fixture: staging writes a CONFIG-SUFFIXED table (never colliding
    with the anchor index the registered queries stage), the cap
    fires corpus-side (heavy keys present), the probe-both-keys delta
    results are a subset of the uncapped registered delta query with
    identical exact-verify values, and an independent wide-frame
    derivation of the candidate rule (light: share (t, low bits) and
    bucket light; heavy: share ALL wide bits) reproduces the accepted
    set exactly."""
    from pyspark.sql import functions as F

    from gcd_etl_spark.plans.dedup import (
        DELTA_MOD,
        SRP_BITS,
        SRP_CAP_SPLIT_BITS,
        SRP_TABLES,
        _srp_bucket_frame,
        _srp_verify_delta,
        ensure_srp_bucket_index,
        srp_capped_delta_pairs,
    )
    from gcd_etl_spark.sources.catalog import read_table, staged_name

    base = 1 << SRP_BITS
    emb = read_table(spark, sf_correct, "embeddings")
    is_delta = F.col("vec_id") % DELTA_MOD == 0

    idx = ensure_srp_bucket_index(
        spark, sf_correct, emb.where(~is_delta), capped=True
    )
    capped_name = (
        staged_name("srp_bucket_idx", sf_correct, "embeddings")
        + f"_b{SRP_BITS}t{SRP_TABLES}c"
    )
    assert capped_name in {t.name for t in spark.catalog.listTables()}, (
        "capped index not staged under a config suffix"
    )
    assert idx.where(F.col("bk") >= base).count() > 0, "cap never fired"

    got = {
        (r["delta_id"], r["corpus_id"]): (r["dot"], r["cos_ppm"])
        for r in srp_capped_delta_pairs(
            spark, sf_correct, emb, is_delta
        ).collect()
    }
    assert got, "no accepted pairs at fixture scale"

    uncapped = {
        (r["delta_id"], r["corpus_id"]): (r["dot"], r["cos_ppm"])
        for r in QUERIES["dedup_semantic_delta_vs_corpus"]
        .build(spark, sf_correct)
        .collect()
    }
    for k, v in got.items():
        assert uncapped[k] == v

    # independent candidate derivation from the wide frame
    wide = _srp_bucket_frame(emb, SRP_BITS + SRP_CAP_SPLIT_BITS, SRP_TABLES)
    u = wide.select(
        "vec_id", F.posexplode("bks").alias("t", "wb")
    ).withColumn("bk", F.col("wb") % base)
    corpus_u = u.where(~is_delta)
    n = emb.where(~is_delta).count()
    cap = 2 * -(-n // base)  # SRP_CAP_FACTOR x ceil(n / 2^bits)
    heavy = (
        corpus_u.groupBy("t", "bk")
        .count()
        .where(F.col("count") > cap)
        .select("t", "bk", F.lit(True).alias("heavy"))
    )
    cu = corpus_u.join(heavy, ["t", "bk"], "left").select(
        F.col("vec_id").alias("corpus_id"),
        "t",
        F.when(F.col("heavy"), F.col("wb") + base)
        .otherwise(F.col("bk"))
        .alias("k"),
    )
    du = u.where(is_delta).join(heavy, ["t", "bk"], "left").select(
        F.col("vec_id").alias("delta_id"),
        "t",
        F.when(F.col("heavy"), F.col("wb") + base)
        .otherwise(F.col("bk"))
        .alias("k"),
    )
    cand = (
        du.join(cu, ["t", "k"])
        .select("delta_id", "corpus_id")
        .dropDuplicates(["delta_id", "corpus_id"])
    )
    want = {
        (r["delta_id"], r["corpus_id"]): (r["dot"], r["cos_ppm"])
        for r in _srp_verify_delta(spark, sf_correct, cand).collect()
    }
    assert got == want


def test_srp_cap_identical_vectors_defeat_splitting(spark):
    """The documented limit of bucket splitting: identical vectors
    take identical signs under EVERY hyperplane, so a heavy bucket
    made of one repeated vector re-hashes into a single sub-bucket
    with undiminished occupancy — splitting (at any depth) cannot
    help, and the production composition is dedup_exact_embeddings
    first. A genuinely-clustered (perturbed) mass, by contrast, does
    spread across sub-buckets."""
    import numpy as np
    from pyspark.sql import functions as F

    from gcd_etl_spark.plans.dedup import (
        SRP_BITS,
        SRP_CAP_SPLIT_BITS,
        _srp_bucket_frame,
        _srp_capped_keys,
    )

    base = 1 << SRP_BITS
    rng = np.random.default_rng(7)
    anchor_vec = rng.normal(size=64)
    rows = [(i, [float(x) for x in anchor_vec]) for i in range(60)]
    rows += [
        (100 + i, [float(x) for x in rng.normal(size=64)]) for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k = _srp_capped_keys(
        _srp_bucket_frame(emb, SRP_BITS + SRP_CAP_SPLIT_BITS, 8)
    ).localCheckpoint(eager=False)

    # the repeated mass lands heavy (cap = 2*ceil(80/64) = 4 < 60)
    # and every copy gets the SAME key in every table
    dup_keys = k.where(F.col("vec_id") < 100)
    assert dup_keys.where(F.col("key") >= base).count() > 0
    per_table = dup_keys.groupBy("t").agg(
        F.countDistinct("key").alias("nk"), F.count(F.lit(1)).alias("n")
    )
    for r in per_table.collect():
        assert r["nk"] == 1 and r["n"] == 60  # undiminished sub-bucket

    # perturbed near-cluster: copies of the anchor + noise DO spread
    pert = [
        (200 + i, [float(x) for x in anchor_vec + rng.normal(scale=2.0, size=64)])
        for i in range(60)
    ]
    emb2 = spark.createDataFrame(
        pert + rows[60:], "vec_id long, embedding array<float>"
    )
    k2 = _srp_capped_keys(
        _srp_bucket_frame(emb2, SRP_BITS + SRP_CAP_SPLIT_BITS, 8)
    )
    spread = (
        k2.where((F.col("vec_id") >= 200) & (F.col("key") >= base))
        .groupBy("t")
        .agg(F.countDistinct("key").alias("nk"))
        .agg(F.max("nk"))
        .collect()[0][0]
    )
    assert spread and spread > 1  # splitting separates clustered mass


# ------------------------- DSIR importance resampling (new registrant)
def test_dsir_weights_separate_target_from_raw(spark, sf_correct):
    """The scored corpus must actually separate: target-domain docs
    (whose features trained the numerator model) should carry a
    higher mean per-feature log-likelihood ratio than raw-pool docs,
    and the selection flag must be exactly the sign of the exact
    integer total."""
    from gcd_etl_spark.plans.corpus import DSIR_TARGET_MOD, corpus_dsir_weights

    rows = corpus_dsir_weights(spark, sf_correct).collect()
    assert len(rows) == 500
    docs = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{sf_correct}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }

    def is_target(doc_id):
        return int(docs[doc_id][3:]) % DSIR_TARGET_MOD == 0

    t = [r.llr_mean_micro for r in rows if is_target(r.doc_id)]
    raw = [r.llr_mean_micro for r in rows if not is_target(r.doc_id)]
    assert len(t) == 100 and len(raw) == 400
    assert sum(t) / len(t) > sum(raw) / len(raw)
    for r in rows:
        assert r.selected == (r.llr_total_micro > 0)
        assert r.n_feats >= 1


def test_dsir_weight_matches_independent_recompute(spark, sf_correct):
    """One document's weight, rebuilt from scratch in plain Python
    (md5 hashing, add-1 multinomials, micro-quantized log ratios) —
    any drift in the hash family, the smoothing, the feature set or
    the quantization breaks this exact-integer equality."""
    import hashlib
    import math
    import re
    from collections import Counter

    from gcd_etl_spark.plans.corpus import (
        DSIR_BUCKETS,
        DSIR_TARGET_MOD,
        corpus_dsir_weights,
    )

    docs = (
        spark.read.parquet(f"{sf_correct}/documents.parquet")
        .select("doc_id", "source", "text")
        .collect()
    )

    def feats(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return toks + [
            toks[i] + "\x1f" + toks[i + 1] for i in range(len(toks) - 1)
        ]

    def bucket(g):
        return int(hashlib.md5(("dsir:" + g).encode()).hexdigest()[:15], 16) % (
            DSIR_BUCKETS
        )

    ct: Counter = Counter()
    cr: Counter = Counter()
    for r in docs:
        tgt = int(r.source[3:]) % DSIR_TARGET_MOD == 0
        for g in feats(r.text):
            (ct if tgt else cr)[bucket(g)] += 1
    nt, nr = sum(ct.values()), sum(cr.values())
    llr = {
        b: math.floor(
            (
                math.log((ct[b] + 1) / (nt + DSIR_BUCKETS))
                - math.log((cr[b] + 1) / (nr + DSIR_BUCKETS))
            )
            * 1_000_000
            + 0.5
        )
        for b in range(DSIR_BUCKETS)
        if ct[b] or cr[b]
    }
    probe = docs[7]
    expected = sum(llr[bucket(g)] for g in feats(probe.text))
    got = {
        r.doc_id: r.llr_total_micro
        for r in corpus_dsir_weights(spark, sf_correct).collect()
    }
    assert got[probe.doc_id] == expected


def test_dsir_delta_unseen_fallback_and_reuse(spark, tmp_path):
    """The delta probe's unpopulated-bucket fallback, exercised for
    real: a 3-doc micro-corpus leaves most of the 512 buckets empty,
    so a delta doc made of words the corpus never saw must (a) score
    every feature through the single default-llr row (n_unseen > 0),
    (b) match an exact Python recompute of the whole artifact
    including that fallback value, and (c) find the persisted model
    on a second call instead of retraining."""
    import hashlib
    import math
    import re as _re

    import pandas as pd

    from gcd_etl_spark.plans.corpus import (
        DSIR_BUCKETS,
        DSIR_TARGET_MOD,
        corpus_dsir_delta,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 7],
            "text": [
                "alpha beta gamma alpha",
                "delta epsilon beta",
                "zeta eta theta",
                "novel words nowhere beta gamma",
            ],
            "lang": ["en"] * 4,
            "source": ["src0", "src1", "src2", "src3"],
            "n_chars": [22, 18, 14, 30],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")

    rows = corpus_dsir_delta(spark, sf).collect()
    assert len(rows) == 1  # only doc_id 7 is in the delta (7 % 7 == 0)
    got = rows[0]
    assert got.n_unseen > 0, "no unseen buckets — fallback untested"
    assert got.n_unseen < got.n_feats, "shared words should hit the model"

    # exact recompute: corpus = docs 1-3, target = src0 only
    def feats(text):
        toks = [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]
        return toks + [
            toks[i] + "\x1f" + toks[i + 1] for i in range(len(toks) - 1)
        ]

    def bucket(g):
        return int(
            hashlib.md5(("dsir:" + g).encode()).hexdigest()[:15], 16
        ) % DSIR_BUCKETS

    ct: dict = {}
    cr: dict = {}
    for _, r in docs[docs.doc_id != 7].iterrows():
        tgt = int(r.source[3:]) % DSIR_TARGET_MOD == 0
        for g in feats(r.text):
            b = bucket(g)
            if tgt:
                ct[b] = ct.get(b, 0) + 1
            else:
                cr[b] = cr.get(b, 0) + 1
    nt, nr = sum(ct.values()), sum(cr.values())

    def llr(b):
        return math.floor(
            (
                math.log((ct.get(b, 0) + 1) / (nt + DSIR_BUCKETS))
                - math.log((cr.get(b, 0) + 1) / (nr + DSIR_BUCKETS))
            )
            * 1_000_000
            + 0.5
        )

    fs = feats("novel words nowhere beta gamma")
    expected_total = sum(llr(bucket(g)) for g in fs)
    expected_unseen = sum(
        1 for g in fs if bucket(g) not in ct and bucket(g) not in cr
    )
    assert got.llr_total_micro == expected_total
    assert got.n_unseen == expected_unseen
    assert got.selected == (expected_total > 0)

    # steady state: the model table is persisted and found again
    names = [t.name for t in spark.catalog.listTables()]
    assert any(n.startswith("dsir_model_") for n in names)
    again = corpus_dsir_delta(spark, sf).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_dsir_gate_stream_matches_nightly(spark, sf_smoke):
    """Batch/stream unification for the DSIR gate: per-document
    weights under the frozen model are independent, so the union of
    the micro-batch verdicts must equal the one-shot nightly query
    exactly — and non-vacuously."""
    from gcd_etl_spark.plans import QUERIES

    s = sorted(
        map(tuple, QUERIES["stream_dsir_gate"].build(spark, sf_smoke).collect())
    )
    b = sorted(
        map(tuple, QUERIES["corpus_dsir_delta"].build(spark, sf_smoke).collect())
    )
    assert s == b
    assert s, "fixture produced no delta weights — parity is vacuous"


def test_dsir_gate_batch_replay_idempotent(spark, sf_smoke, tmp_path):
    """The gate family's sink contract: re-firing a batch (at-least-
    once redelivery) OVERWRITES its own batch_id partition, so the
    converged union is unchanged."""
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans.corpus import (
        DSIR_STANDING_TAG,
        ensure_dsir_model,
        score_docs_frozen_dsir,
    )
    from gcd_etl_spark.plans.dedup import DELTA_MOD
    from gcd_etl_spark.sources.catalog import read_table_spread
    from gcd_etl_spark.streaming.jobs import gate_sink

    docs = read_table_spread(spark, sf_smoke, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    model = ensure_dsir_model(
        spark, sf_smoke, docs.where(~is_delta), filter_tag=DSIR_STANDING_TAG
    )
    out_root = str(tmp_path / "dsirgate_out")
    gate = gate_sink(out_root, lambda b: score_docs_frozen_dsir(b, model))
    delta = docs.where(is_delta)
    gate(delta, 0)
    first = sorted(map(tuple, spark.read.parquet(out_root).collect()))
    gate(delta, 0)  # replay the same batch
    second = sorted(map(tuple, spark.read.parquet(out_root).collect()))
    assert first == second and first


# ------------------------------- empty-input robustness (r7 pin)
import pytest as _pytest


@_pytest.fixture(scope="module")
def empty_sf_dir_r11(spark):
    import tempfile

    d = tempfile.mkdtemp(prefix="gcd_empty_r11_")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(
            0
        ).write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    return d


@_pytest.mark.parametrize(
    "name", ["corpus_dsir_weights", "corpus_dsir_delta", "stream_dsir_gate"]
)
def test_empty_input_does_not_raise_r11(spark, empty_sf_dir_r11, name):
    from gcd_etl_spark.plans import QUERIES

    rows = QUERIES[name].build(spark, empty_sf_dir_r11).limit(5).collect()
    assert isinstance(rows, list)


def test_neardup_safe_split_never_leaks_pairs(spark, sf_correct):
    """The split's defining property, checked against the verified
    near-dup pairs themselves: every pair that survives the exact
    Jaccard verify has both endpoints in the SAME split — and
    non-vacuously (the fixture has multi-doc clusters), while the
    row-hash split demonstrably leaks on the same pairs (the reason
    this operator exists)."""
    from gcd_etl_spark.operators import dedup as D
    from gcd_etl_spark.plans import QUERIES
    from gcd_etl_spark.sources.catalog import read_table_spread

    docs = read_table_spread(spark, sf_correct, "documents")
    pairs = [
        (r.id_a, r.id_b)
        for r in D.minhash_dedup_pairs(docs, threshold=0.5, portable=True)
        .select("id_a", "id_b")
        .collect()
    ]
    assert pairs, "fixture has no verified near-dup pairs — test is vacuous"
    split = {
        r.doc_id: r.split
        for r in QUERIES["data_split_neardup_safe"].build(spark, sf_correct).collect()
    }
    for a, b in pairs:
        assert split[a] == split[b], f"near-dup pair ({a},{b}) straddles splits"
    # the row-hash split leaks on at least one of the same pairs
    row_split = {
        r.doc_id: r.split
        for r in QUERIES["data_split_deterministic"].build(spark, sf_correct).collect()
    }
    assert any(row_split[a] != row_split[b] for a, b in pairs), (
        "row-hash split did not leak on this fixture — the comparison "
        "baseline is vacuous"
    )
