"""Round-10 second-wave registrants: the training-loader /
corpus-analysis gap-fillers (deterministic epoch shuffle, bigram-LM
scoring, temperature mixing, Zipf fit, bitext margin mining).

Each carries a full value-hash oracle in the registry; these tests
re-run the driver comparator at smoke scale plus the invariants the
per-row comparison implies but is worth stating directly.
"""

from __future__ import annotations

import pytest

from gcd_etl_spark.plans import QUERIES
from tests.conftest import assert_matches_oracle

_NEW = [
    "corpus_shuffle_shards",
    "quality_bigram_nll",
    "sample_temperature_mix",
    "stat_zipf_fit",
    "sim_bitext_margin",
    "sim_bitext_margin_shortlist",
    "corpus_shuffle_shards_write",
    "stat_heaps_fit",
    "quality_bigram_nll_delta",
    "stream_quality_gate",
    "sim_bitext_margin_persisted",
    "sample_negatives_hash",
    "ts_seasonal_decompose",
    "dq_k_anonymity",
]


@pytest.mark.parametrize("name", _NEW)
def test_round10b_queries_match_oracle(spark, sf_smoke, name):
    q = QUERIES[name]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=name)


def test_shuffle_shards_is_a_permutation(spark, sf_smoke):
    """The epoch shuffle must be a permutation, not a sample: every
    document appears exactly once, and within each shard positions
    are exactly 1..n_shard (contiguous — a loader can stream a shard
    file sequentially and trust pos as the global tiebreak-free
    order)."""
    rows = QUERIES["corpus_shuffle_shards"].build(spark, sf_smoke).collect()
    n_docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_shuffle_shards_not_id_ordered(spark, sf_smoke):
    """The hash order must actually shuffle: within at least one
    shard, position order must disagree with doc_id order (a broken
    hash that preserves id order would still pass the permutation
    test)."""
    rows = QUERIES["corpus_shuffle_shards"].build(spark, sf_smoke).collect()
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append((r["pos"], r["doc_id"]))
    scrambled = 0
    for poss in by_shard.values():
        ids_in_pos_order = [d for _, d in sorted(poss)]
        if ids_in_pos_order != sorted(ids_in_pos_order):
            scrambled += 1
    assert scrambled > 0


def test_bigram_nll_counts_align_with_token_stream(spark, sf_smoke):
    """n_bigrams per doc = n_tokens - 1 (every adjacent pair scored,
    nothing dropped by the cost join — Laplace smoothing means every
    observed bigram has a cost row)."""
    import pyspark.sql.functions as F

    nll = QUERIES["quality_bigram_nll"].build(spark, sf_smoke)
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    toks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
    counts = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    joined = nll.join(counts, "doc_id").collect()
    assert joined
    for r in joined:
        assert r["n_bigrams"] == r["n_tokens"] - 1, r


def test_temperature_mix_upweights_low_resource(spark, sf_smoke):
    """The whole point of alpha=0.5: the keep FRACTION (quota/n_s)
    must be non-increasing as source size grows — small sources are
    sampled proportionally harder than big ones. Also every source
    keeps at most its quota and the quota is positive for every
    non-empty source (no source starves)."""
    rows = QUERIES["sample_temperature_mix"].build(spark, sf_smoke).collect()
    per_src = {}
    for r in rows:
        n_kept, n_s, quota = per_src.get(r["source"], (0, r["n_source"], r["quota"]))
        per_src[r["source"]] = (n_kept + 1, r["n_source"], r["quota"])
    assert per_src
    fracs = []
    for src, (n_kept, n_s, quota) in per_src.items():
        assert n_kept <= quota, src
        assert quota >= 1, src
        fracs.append((n_s, quota / n_s))
    fracs.sort()
    for (n1, f1), (n2, f2) in zip(fracs, fracs[1:]):
        if n1 < n2:  # strictly bigger source -> no bigger keep share
            assert f2 <= f1 + 1e-9, (n1, f1, n2, f2)


def test_zipf_slope_negative(spark, sf_smoke):
    """Any natural-ish corpus has a falling rank-frequency curve; a
    non-negative slope would mean the fit ran on garbage (e.g. rank
    and count decoupled by a bad window order)."""
    row = QUERIES["stat_zipf_fit"].build(spark, sf_smoke).collect()
    assert len(row) == 1
    assert row[0]["n_vocab"] > 1
    assert row[0]["slope_ppm"] < 0


def test_bitext_anchor_guarded(spark, sf_smoke, monkeypatch):
    """sim_bitext_margin is the exact-scoring anchor: beyond the pair
    ceiling it must refuse at build time and name the IVF shortlist
    path (the sim_embedding_neardup / dedup_clusters guard
    discipline)."""
    from gcd_etl_spark.plans import similarity as sim_plans

    monkeypatch.setattr(sim_plans, "BITEXT_ANCHOR_MAX_PAIRS", 10)
    with pytest.raises(ValueError, match="sim_bitext_margin_shortlist"):
        QUERIES["sim_bitext_margin"].build(spark, sf_smoke)


def test_bitext_margin_beats_plain_cosine_on_hubs(spark, sf_smoke):
    """Structural property of ratio-margin mining: the accepted
    pair's margin ranking need not equal the cosine ranking — when
    the two disagree for some source, the miner preferred the LESS
    hub-like target. Assert the mined mapping is one-to-at-most-one
    per source and every accepted margin clears the threshold."""
    from gcd_etl_spark.plans.similarity import BITEXT_MARGIN_MIN_PPM

    rows = QUERIES["sim_bitext_margin"].build(spark, sf_smoke).collect()
    assert rows, "fixture mined no pairs — threshold is vacuous here"
    srcs = [r["src_id"] for r in rows]
    assert len(srcs) == len(set(srcs))
    for r in rows:
        assert r["margin_ppm"] >= BITEXT_MARGIN_MIN_PPM


def test_shuffle_shards_write_layout(spark, sf_smoke):
    """The materialized epoch shuffle must be loader-shaped on disk:
    one directory per shard (partition pruning on shard) with
    maxRecordsPerFile rotation actually firing, and rows inside each
    file already pos-sorted (a loader streams files sequentially
    without a sort)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from gcd_etl_spark.plans.corpus import shuffle_shards_staging_path

    QUERIES["corpus_shuffle_shards_write"].build(spark, sf_smoke).collect()
    staged = shuffle_shards_staging_path(sf_smoke)
    shard_dirs = sorted(glob.glob(f"{staged}/shard=*"))
    assert len(shard_dirs) == 8, shard_dirs
    from gcd_etl_spark.plans.corpus import SHUFFLE_WRITE_MAX_RECORDS

    rotated = 0
    for d in shard_dirs:
        files = glob.glob(f"{d}/*.parquet")
        assert files, d
        if len(files) > 1:
            rotated += 1
        for f in files:
            t = pq.read_table(f)
            assert t.num_rows <= SHUFFLE_WRITE_MAX_RECORDS, (f, t.num_rows)
            poss = t.column("pos").to_pylist()
            assert poss == sorted(poss), f
    assert rotated > 0, "rotation never fired — fixture sizing is vacuous"


def test_heaps_fit_detects_fixture_saturation(spark, sf_smoke):
    """The fixture's tiny synthetic vocabulary saturates inside the
    first decile, so the Heaps exponent must come out EXACTLY 0 —
    the 'no new vocabulary' verdict (and a regression pin on the
    first-occurrence/prefix arithmetic: any off-by-one in the cutoff
    join would move it)."""
    row = QUERIES["stat_heaps_fit"].build(spark, sf_smoke).collect()
    assert len(row) == 1
    assert row[0]["n_points"] == 10
    assert row[0]["beta_ppm"] == 0


def test_bigram_delta_probes_frozen_lm(spark, sf_smoke):
    """The KenLM-posture pin: with the LM staged, the delta plan
    probes the persisted cost tables and tokenizes ONLY the delta
    (exactly one documents.parquet scan — the corpus is never
    re-counted), and a rebuild reuses the staged files byte-for-byte."""
    import contextlib
    import io
    import os

    from gcd_etl_spark.sources.catalog import staged_dir, staged_name

    df = QUERIES["quality_bigram_nll_delta"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "bigram_lm_costs_" in plan, plan[:2000]
    assert "bigram_lm_ctx_" in plan, plan[:2000]
    assert plan.count("documents.parquet") == 1, plan[:2000]
    idx_dir = staged_dir(spark, staged_name("bigram_lm_costs", sf_smoke, "documents"))
    files_before = sorted(os.listdir(idx_dir))
    QUERIES["quality_bigram_nll_delta"].build(spark, sf_smoke)
    files_after = sorted(os.listdir(idx_dir))
    assert files_before == files_after


def test_bigram_delta_unseen_mass_nonvacuous(spark, sf_smoke):
    """The frozen-LM fallback ladder must actually be exercised: the
    delta contains bigrams the corpus LM never saw (n_unseen > 0
    somewhere), and every unseen bigram still got a finite cost (no
    null NLLs — totals are always populated)."""
    rows = QUERIES["quality_bigram_nll_delta"].build(spark, sf_smoke).collect()
    assert rows
    assert any(r["n_unseen"] > 0 for r in rows), "no unseen bigrams — fallback untested"
    for r in rows:
        assert r["nll_total_micro"] is not None and r["nll_total_micro"] > 0
        assert r["n_unseen"] <= r["n_bigrams"]


def test_quality_gate_stream_matches_nightly(spark, sf_smoke):
    """Batch/stream unification for the quality gate: per-document
    scores under the frozen LM are independent, so the union of the
    micro-batch verdicts must equal the one-shot nightly query
    exactly — and non-vacuously."""
    s = sorted(
        map(tuple, QUERIES["stream_quality_gate"].build(spark, sf_smoke).collect())
    )
    b = sorted(
        map(tuple, QUERIES["quality_bigram_nll_delta"].build(spark, sf_smoke).collect())
    )
    assert s == b
    assert s, "fixture produced no delta scores — parity is vacuous"


def test_quality_gate_batch_replay_idempotent(spark, sf_smoke, tmp_path):
    """The gate family's sink contract: re-firing a batch (at-least-
    once redelivery) OVERWRITES its own batch_id partition, so the
    converged union is unchanged."""
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans.corpus import (
        ensure_bigram_lm_index,
        score_docs_frozen_bigram_lm,
    )
    from gcd_etl_spark.plans.dedup import DELTA_MOD
    from gcd_etl_spark.sources.catalog import read_table_spread
    from gcd_etl_spark.streaming.jobs import gate_sink

    docs = read_table_spread(spark, sf_smoke, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    costs, ctx = ensure_bigram_lm_index(spark, sf_smoke, docs.where(~is_delta))
    out_root = str(tmp_path / "qgate_out")
    gate = gate_sink(out_root, lambda b: score_docs_frozen_bigram_lm(b, costs, ctx))
    delta = docs.where(is_delta)
    gate(delta, 0)
    first = sorted(map(tuple, spark.read.parquet(out_root).collect()))
    gate(delta, 0)  # replay the same batch
    second = sorted(map(tuple, spark.read.parquet(out_root).collect()))
    assert first == second and first


# ------------------------------- empty-input robustness (r7 pin)
@pytest.fixture(scope="module")
def empty_sf_dir_r10b(spark):
    import tempfile

    d = tempfile.mkdtemp(prefix="gcd_empty_r10b_")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(
            0
        ).write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    return d


@pytest.mark.parametrize("name", sorted(_NEW))
def test_empty_input_does_not_raise_r10b(spark, empty_sf_dir_r10b, name):
    rows = QUERIES[name].build(spark, empty_sf_dir_r10b).limit(5).collect()
    assert isinstance(rows, list)


def test_bitext_persisted_index_reuse_and_scan(spark, sf_smoke):
    """The miner's index lifecycle, pinned: the candidate branch
    scans the staged cell-bucketed target table (its name appears in
    the plan), and a second build reuses the staged files
    byte-for-byte — the target side is never re-trained or
    re-assigned."""
    import contextlib
    import glob
    import io
    import os

    from gcd_etl_spark.sources.catalog import staged_dir, staged_name

    df = QUERIES["sim_bitext_margin_persisted"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "bitext_tgt_idx_" in plan, plan[:2000]
    # the width-ruled quantizer (r13) suffixes the staged name with
    # its cell count — resolve the concrete dir by glob
    [idx_dir] = glob.glob(
        staged_dir(spark, staged_name("bitext_tgt_idx", sf_smoke, "embeddings")) + "_c*"
    )
    files_before = sorted(os.listdir(idx_dir))
    QUERIES["sim_bitext_margin_persisted"].build(spark, sf_smoke)
    files_after = sorted(os.listdir(idx_dir))
    assert files_before == files_after


def test_negative_sampling_invariants(spark, sf_smoke):
    """Per anchor: at most NEG_K negatives, never itself, and the
    same_source flag actually separates the two negative classes
    (both classes non-empty on the 20-source fixture — a draw family
    that never crossed domains would be a broken hash)."""
    from gcd_etl_spark.plans.text import NEG_K

    rows = QUERIES["sample_negatives_hash"].build(spark, sf_smoke).collect()
    assert rows
    per_anchor: dict[int, int] = {}
    for r in rows:
        assert r["neg_id"] != r["doc_id"]
        per_anchor[r["doc_id"]] = per_anchor.get(r["doc_id"], 0) + 1
    assert max(per_anchor.values()) <= NEG_K
    flags = {r["same_source"] for r in rows}
    assert flags == {0, 1}, flags


def test_seasonal_decomposition_is_invertible(spark, sf_smoke):
    """The additive identity the per-row oracle implies, stated
    directly: cents*1000 = trend + seasonal + resid on every emitted
    day, and the seasonal component is constant within a weekday
    class."""
    rows = QUERIES["ts_seasonal_decompose"].build(spark, sf_smoke).collect()
    assert rows
    from gcd_etl_spark.plans.sequential import SEASON_LEN

    per_dow = {}
    for r in rows:
        assert r["cents"] * 1000 == (
            r["trend_milli"] + r["seasonal_milli"] + r["resid_milli"]
        ), r
        dow = r["day"] % SEASON_LEN
        per_dow.setdefault(dow, set()).add(r["seasonal_milli"])
    for dow, vals in per_dow.items():
        assert len(vals) == 1, (dow, vals)


def test_k_anonymity_flags_fire(spark, sf_smoke):
    """The audit must actually flag something on the fixture (an
    all-clear report would be vacuous), and the flag must agree with
    the emitted group size."""
    from gcd_etl_spark.plans.quality import K_ANON

    rows = QUERIES["dq_k_anonymity"].build(spark, sf_smoke).collect()
    assert rows
    assert any(r["at_risk"] == 1 for r in rows)
    for r in rows:
        assert r["at_risk"] == int(r["n"] < K_ANON)
