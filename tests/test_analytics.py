"""Differential + invariant tests for plans/analytics.py
(funnel, BM25 retrieval, k-means clustering)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcd_etl_spark.plans import QUERIES
from tests.conftest import assert_matches_oracle


def test_events_funnel_matches_oracle(spark, sf_smoke):
    q = QUERIES["events_funnel"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_events_funnel_is_monotone(spark, sf_smoke):
    """Funnel counts can only shrink step to step."""
    rows = {r["step"]: r for r in QUERIES["events_funnel"].build(spark, sf_smoke).collect()}
    assert rows[1]["users"] >= rows[2]["users"] >= rows[3]["users"]
    assert rows[1]["total_lag_us"] == 0
    assert rows[2]["total_lag_us"] >= 0 and rows[3]["total_lag_us"] >= rows[2]["total_lag_us"] * 0


def _funnel_model(events, steps):
    """Sequential-scan model of the strict first-touch funnel: events
    sorted by (us, eid); step k+1 takes the first event of its type
    strictly after the matched step-k time."""
    t = [None, None, None]
    for us, eid, etype in sorted(events):
        if t[0] is None and etype == steps[0]:
            t[0] = us
        elif t[1] is None and t[0] is not None and etype == steps[1] and us > t[0]:
            t[1] = us
        elif t[2] is None and t[1] is not None and etype == steps[2] and us > t[1]:
            t[2] = us
    return tuple(t)


def test_funnel_fold_matches_sequential_model(spark):
    """Property (hypothesis-style pinned batch): the one-shuffle
    higher-order fold equals the sequential per-user scan, including
    ties (same us), repeated steps, and out-of-order arrivals."""
    import itertools
    import random

    from gcd_etl_spark.plans.analytics import FUNNEL_STEPS, funnel_step_times

    rng = random.Random(42)
    types = list(FUNNEL_STEPS) + ["error", "signup"]
    rows, eid = [], 0
    # 40 users x up to 12 events with tiny us range -> dense ties
    for uid in range(40):
        for _ in range(rng.randint(0, 12)):
            rows.append((uid, eid, rng.choice(types), rng.randint(0, 5)))
            eid += 1
    # pinned corner cases: tie on us must NOT satisfy strict-after;
    # steps out of order; duplicate step events
    pinned = [
        (100, 9001, "view", 7), (100, 9002, "click", 7),   # tie -> no click match
        (101, 9003, "click", 1), (101, 9004, "view", 2), (101, 9005, "click", 3),
        (102, 9006, "view", 1), (102, 9007, "view", 2), (102, 9008, "click", 2),
        (102, 9009, "purchase", 2), (102, 9010, "purchase", 3),
    ]
    rows += pinned
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string, us long")
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_step_times(df).collect()
    }
    by_user = {
        uid: [(us, eid_, et) for (u, eid_, et, us) in g]
        for uid, g in itertools.groupby(sorted(rows, key=lambda r: r[0]), key=lambda r: r[0])
        for g in [list(g)]
    }
    for uid, events in by_user.items():
        assert got[uid] == _funnel_model(events, FUNNEL_STEPS), uid


def test_bm25_matches_oracle(spark, sf_smoke):
    q = QUERIES["text_bm25_topk"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_bm25_no_explode_shuffle(spark, sf_smoke):
    """tf over the closed query-term set must stay expression-side:
    no Generate (explode) in the physical plan."""
    plan = QUERIES["text_bm25_topk"].build(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan


def test_pagerank_matches_oracle(spark, sf_smoke):
    q = QUERIES["graph_pagerank"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_pagerank_mass_conserved(spark, sf_smoke):
    """Nanorank mass stays ~1e9 (no dangling nodes in the symmetric
    edge set; integer rounding drifts at most ~1 nano per node per
    iteration) and every rank is positive."""
    rows = QUERIES["graph_pagerank"].build(spark, sf_smoke).collect()
    total = sum(r["rank_nano"] for r in rows)
    # drift: up to 0.5 nano per EDGE contribution per iteration plus
    # per-node damping rounding — bound by 0.001% of total mass
    assert abs(total - 1_000_000_000) <= 100_000
    assert all(r["rank_nano"] > 0 for r in rows)


def test_grouped_split_matches_oracle(spark, sf_smoke):
    q = QUERIES["data_split_grouped"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_grouped_split_has_no_leakage(spark, sf_smoke):
    """Leakage guard: no entity may appear in more than one split."""
    df = QUERIES["data_split_grouped"].build(spark, sf_smoke)
    multi = (
        df.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert multi == 0


def test_entity_clusters_are_consistent(spark, sf_smoke):
    """Every record belongs to exactly one cluster; cluster ids are
    member ids (the minimum one)."""
    df = QUERIES["entity_clusters"].build(spark, sf_smoke)
    n = df.count()
    assert df.select("c_custkey").distinct().count() == n
    ids = {r["c_custkey"] for r in df.collect()}
    assert all(r["cluster_id"] in ids for r in df.collect())
    assert df.where(F.col("cluster_id") > F.col("c_custkey")).count() == 0


def test_attribution_matches_oracle(spark, sf_smoke):
    q = QUERIES["attribution_last_touch"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_attribution_partitions_revenue(spark, sf_smoke):
    """attributed + unattributed must equal total purchase revenue,
    exactly (decimal sums both sides)."""
    from gcd_etl_spark.functions.numeric import exact_sum
    from gcd_etl_spark.sources.catalog import read_table

    df = QUERIES["attribution_last_touch"].build(spark, sf_smoke)
    got = df.agg(
        F.sum(F.col("attributed_rev") + F.col("unattributed_rev")).alias("t"),
        F.sum("n_purchases").alias("n"),
    ).collect()[0]
    ev = read_table(spark, sf_smoke, "events").where(F.col("event_type") == "purchase")
    want = ev.agg(exact_sum("value").alias("t"), F.count(F.lit(1)).alias("n")).collect()[0]
    assert got["n"] == want["n"]
    assert abs(got["t"] - want["t"]) < 1e-6


def test_anomaly_zscore_matches_oracle(spark, sf_smoke):
    q = QUERIES["anomaly_zscore_events"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_anomaly_zscore_agrees_with_float_zscore(spark, sf_smoke):
    """The division-free decimal inequality must classify exactly
    like the plain float z-score away from the boundary."""
    import math

    from gcd_etl_spark.plans.analytics import ANOMALY_K, ANOMALY_USER_MOD
    from gcd_etl_spark.sources.catalog import read_table

    rows = (
        read_table(spark, sf_smoke, "events")
        .where(F.col("user_id") % ANOMALY_USER_MOD == 0)
        .select("user_id", "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    expect = {}
    for uid, rs in by_user.items():
        vals = [round(r["value"], 2) for r in rs]
        n = len(vals)
        mean = sum(vals) / n
        var = sum(v * v for v in vals) / n - mean * mean
        sd = math.sqrt(max(var, 0.0))
        for r in rs:
            z = abs(round(r["value"], 2) - mean)
            expect[r["event_id"]] = 1 if z > ANOMALY_K * sd else 0
    got = {
        r["event_id"]: r["is_anomaly"]
        for r in QUERIES["anomaly_zscore_events"].build(spark, sf_smoke).collect()
    }
    mismatch = [k for k in expect if expect[k] != got[k]]
    # allow float-model disagreement only at the exact boundary
    assert len(mismatch) <= max(1, len(expect) // 1000), mismatch[:5]


def test_resample_ffill_matches_oracle(spark, sf_smoke):
    q = QUERIES["resample_ffill"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_resample_grid_is_dense_and_filled(spark, sf_smoke):
    """Per user: one row per hour across the whole span (no holes),
    gap rows carry the previous observation, and only the rows before
    any observation may be NULL (none, since spans start at an
    event)."""
    df = QUERIES["resample_ffill"].build(spark, sf_smoke)
    span = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("rows"),
        ((F.max("hour_ts") - F.min("hour_ts")) / 3600 + 1).alias("hours"),
    )
    assert span.where(F.col("rows") != F.col("hours")).count() == 0
    assert df.where(F.col("value_ffill").isNull()).count() == 0
    assert df.where((F.col("is_gap") == 0) & F.col("value_ffill").isNull()).count() == 0


def test_fuzzy_join_matches_oracle(spark, sf_smoke):
    q = QUERIES["fuzzy_join_symspell"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_fuzzy_join_finds_every_planted_typo(spark, sf_smoke):
    """Recall guarantee of deletion blocking at distance 1: every
    right row derived from a left-query-set customer must match its
    own source id."""
    from gcd_etl_spark.plans.analytics import FUZZY_LEFT_MAX_ID

    df = QUERIES["fuzzy_join_symspell"].build(spark, sf_smoke)
    self_pairs = df.where(F.col("l_id") == F.col("r_id"))
    n_left = self_pairs.count()
    from gcd_etl_spark.sources.catalog import read_table

    expected = (
        read_table(spark, sf_smoke, "customer")
        .where(F.col("c_custkey") < FUZZY_LEFT_MAX_ID)
        .count()
    )
    assert n_left == expected
    assert df.where(F.col("dist") > 1).count() == 0


def test_kmeans_quality_matches_oracle(spark, sf_smoke):
    q = QUERIES["cluster_kmeans_quality"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_kmeans_assignment_shape_and_improvement(spark, sf_smoke):
    """Every vector assigned exactly once; the fit beats (or ties)
    the 1-iteration fit on inertia (decimal-exact sums)."""
    from gcd_etl_spark.operators.clustering import kmeans_fit
    from gcd_etl_spark.sources.catalog import read_table

    emb = read_table(spark, sf_smoke, "embeddings")
    n = emb.count()
    assigned, cent, history = kmeans_fit(emb, k=8, iters=3, dim=64)
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    assert cent.shape == (8, 64)
    assert history == sorted(history, reverse=True)  # non-increasing

    final_inertia = float(
        assigned.select(F.sum(F.round("sqdist", 6).cast("decimal(28,6)"))).collect()[0][0]
    )
    assert final_inertia <= history[0] * (1 + 1e-9)
