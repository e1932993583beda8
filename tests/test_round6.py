"""Semantic tests for the round-6 operators (plans/stats.py, the
analytics markov/assoc additions, the stream-stream join, and the
incremental rollup merge) beyond the registry-wide differential gate
in test_parity.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_corr_matches_sequential_model(spark):
    """corr_micro must equal a driver-side exact recomputation from
    the same integer moments (guards the fixed IEEE scalar sequence
    against accidental reassociation)."""
    from gcd_etl_spark.plans.stats import stat_corr_exact
    from gcd_etl_spark.sources.catalog import read_table

    got = {r["l_returnflag"]: r for r in stat_corr_exact(spark, SF_SMOKE).collect()}
    rows = (
        read_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    by_flag: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        xi = int(r["l_quantity"])
        yi = round(r["l_extendedprice"] * 100)
        by_flag.setdefault(r["l_returnflag"], []).append((xi, yi))
    for flag, pts in by_flag.items():
        n = float(len(pts))
        sx = float(sum(p[0] for p in pts))
        sy = float(sum(p[1] for p in pts))
        sxx = float(sum(p[0] * p[0] for p in pts))
        syy = float(sum(p[1] * p[1] for p in pts))
        sxy = float(sum(p[0] * p[1] for p in pts))
        num = n * sxy - sx * sy
        d1 = n * sxx - sx * sx
        d2 = n * syy - sy * sy
        corr_micro = math.floor(num / math.sqrt(d1 * d2) * 1_000_000 + 0.5)
        assert got[flag]["corr_micro"] == corr_micro, flag
        assert -1_000_000 <= got[flag]["corr_micro"] <= 1_000_000


def test_psi_terms_nonnegative_and_counts_total(spark):
    """Each smoothed PSI term is >= 0 ((p-q) and ln(p/q) share sign)
    and the bucket counts partition the orders table."""
    from gcd_etl_spark.plans.stats import PSI_BUCKETS, dq_drift_psi
    from gcd_etl_spark.sources.catalog import read_table

    rows = dq_drift_psi(spark, SF_SMOKE).collect()
    assert len(rows) == PSI_BUCKETS
    assert all(r["psi_term_micro"] >= 0 for r in rows)
    total = sum(r["c_ref"] + r["c_cur"] for r in rows)
    assert total == read_table(spark, SF_SMOKE, "orders").count()


def test_markov_matches_sequential_model(spark):
    """Transition counts must equal a per-user sequential walk over
    the (ts, event_id)-ordered timeline."""
    from gcd_etl_spark.plans.analytics import events_markov_transitions
    from gcd_etl_spark.sources.catalog import read_table

    got = {
        (r["src_type"], r["dst_type"]): r["n_transitions"]
        for r in events_markov_transitions(spark, SF_SMOKE).collect()
    }
    ev = (
        read_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
        .collect()
    )
    timelines: dict[int, list[tuple[int, int, str]]] = {}
    for r in ev:
        timelines.setdefault(r["user_id"], []).append((r["us"], r["event_id"], r["event_type"]))
    want: dict[tuple[str, str], int] = {}
    for tl in timelines.values():
        tl.sort()
        for a, b in zip(tl, tl[1:]):
            want[(a[2], b[2])] = want.get((a[2], b[2]), 0) + 1
    assert got == want
    # row-normalized probabilities sum to ~1e6 per src (floor rounding
    # loses at most |dst| - 1 micro-units)
    probs = events_markov_transitions(spark, SF_SMOKE).collect()
    by_src: dict[str, list[int]] = {}
    for r in probs:
        by_src.setdefault(r["src_type"], []).append(r["prob_micro"])
    for src, ps in by_src.items():
        assert 1_000_000 - len(ps) < sum(ps) <= 1_000_000, src


def test_kmv_identical_sets_estimate_full_overlap(spark):
    """Bottom-k minhash on two identical audiences must estimate
    Jaccard exactly 1.0 — signatures are equal by construction."""
    from gcd_etl_spark.operators.dedup import portable_hash64
    from pyspark.sql import Window

    df = spark.range(500).select(
        F.explode(F.array(F.lit("a"), F.lit("b"))).alias("event_type"),
        F.col("id").alias("user_id"),
    ).withColumn(
        "h", portable_hash64(F.concat(F.lit("aud:"), F.col("user_id").cast("string")))
    )
    rn = F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
    sig = df.withColumn("rn", rn).where(F.col("rn") <= 64)
    a = {r["h"] for r in sig.where(F.col("event_type") == "a").collect()}
    b = {r["h"] for r in sig.where(F.col("event_type") == "b").collect()}
    assert a == b and len(a) == 64


def test_assoc_lift_on_known_baskets(spark):
    """Two-item baskets with known co-occurrence: support, confidence
    and lift must match hand arithmetic."""
    from gcd_etl_spark.plans import QUERIES

    # reuse the registered plan's scoring on the real fixtures, then
    # re-verify the arithmetic of the top row from its own counts
    rows = QUERIES["assoc_pairs_lift"].build(spark, SF_SMOKE).collect()
    assert rows, "no co-purchased brand pairs at sf0.001?"
    from gcd_etl_spark.sources.catalog import read_table

    li = read_table(spark, SF_SMOKE, "lineitem")
    part = read_table(spark, SF_SMOKE, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    n_orders = ob.select("o").distinct().count()
    top = rows[0]
    ca = ob.where(F.col("b") == top["brand_a"]).count()
    cb = ob.where(F.col("b") == top["brand_b"]).count()
    assert top["support_micro"] == (top["c_ab"] * 1_000_000) // n_orders
    assert top["confidence_micro"] == (top["c_ab"] * 1_000_000) // ca
    assert top["lift_micro"] == (n_orders * top["c_ab"] * 1_000_000) // (ca * cb)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_rollup_merge_equals_recompute(spark):
    """Partial-state merge == from-scratch aggregation, exactly (the
    incremental-maintenance invariant; decimal sums make it exact)."""
    from gcd_etl_spark.plans.windows import rollup_incremental_merge
    from gcd_etl_spark.sources.catalog import read_table

    merged = {
        (r["bucket_start"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
            r["min_value"],
            r["max_value"],
        )
        for r in rollup_incremental_merge(spark, SF_SMOKE).collect()
    }
    e = read_table(spark, SF_SMOKE, "events").select(
        F.expr("(unix_micros(ts) - pmod(unix_micros(ts), 3600000000)) div 1000000").alias(
            "bucket_start"
        ),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
        "value",
    )
    flat = {
        (r["bucket_start"], r["event_type"]): (
            r["n"],
            float(r["s"]),
            r["mn"],
            r["mx"],
        )
        for r in e.groupBy("bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert merged == flat


def test_quantile_bound_holds_at_tighter_accuracy(spark):
    """The rank-bound gate must also hold when the sketch is rebuilt
    with a coarser accuracy (the bound scales with 1/accuracy — this
    guards the gate arithmetic, not just one lucky sketch)."""
    from gcd_etl_spark.sources.catalog import read_table

    li = read_table(spark, SF_SMOKE, "lineitem")
    for accuracy in (100, 10_000):
        sk = li.agg(
            F.expr(f"approx_percentile(l_extendedprice, 0.9, {accuracy})").alias("v"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        below = li.where(F.col("l_extendedprice") < sk["v"]).count()
        at_or_below = li.where(F.col("l_extendedprice") <= sk["v"]).count()
        err = sk["n"] / accuracy + 1
        assert below <= 0.9 * sk["n"] + err
        assert at_or_below >= 0.9 * sk["n"] - err


def test_streak_matches_sequential_model(spark):
    """Longest-run detection must equal a per-user sequential walk,
    including the earliest-run tie-break."""
    from gcd_etl_spark.plans.analytics import events_streak_runs
    from gcd_etl_spark.sources.catalog import read_table

    got = {
        r["user_id"]: (r["streak_type"], r["streak_len"], r["streak_start_us"])
        for r in events_streak_runs(spark, SF_SMOKE).collect()
    }
    ev = (
        read_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("us"))
        .collect()
    )
    timelines: dict[int, list[tuple[int, int, str]]] = {}
    for r in ev:
        timelines.setdefault(r["user_id"], []).append((r["us"], r["event_id"], r["event_type"]))
    for uid, tl in timelines.items():
        tl.sort()
        best = (0, None, None)  # len, type, start
        cur_len, cur_start, prev = 0, None, None
        for us, _eid, et in tl:
            if et == prev:
                cur_len += 1
            else:
                cur_len, cur_start = 1, us
            prev = et
            if cur_len > best[0]:
                best = (cur_len, et, cur_start)
        assert got[uid] == (best[1], best[0], best[2]), uid


def test_pit_join_matches_interval_semantics(spark):
    """Every PIT match must be the LATEST signup version at-or-before
    the purchase; probes before any version must be null-matched."""
    from gcd_etl_spark.plans.profiling import scd2_point_in_time
    from gcd_etl_spark.sources.catalog import read_table

    rows = scd2_point_in_time(spark, SF_SMOKE).collect()
    ev = read_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    ).collect()
    signups: dict[int, list[int]] = {}
    for r in ev:
        if r["event_type"] == "signup":
            signups.setdefault(r["user_id"], []).append(r["us"])
    for r in rows:
        prior = sorted(u for u in signups.get(r["user_id"], []) if u <= r["purchase_us"])
        if not prior:
            assert r["version"] is None and r["valid_from_us"] is None
        else:
            assert r["valid_from_us"] == prior[-1]
            assert r["version"] == len(set(prior))


def test_ivfsq8_quantization_fidelity(spark):
    """int8 min-max dequantization must reconstruct cosines to ~1e-3:
    the reason the compressed index can share the exact-recall gate."""
    import numpy as np

    from gcd_etl_spark.sources.catalog import read_table

    vecs = [
        np.asarray(r["embedding"], dtype=np.float64)
        for r in read_table(spark, SF_SMOKE, "embeddings").limit(50).collect()
    ]
    q = vecs[0]
    for v in vecs[1:10]:
        mn, mx = v.min(), v.max()
        codes = np.floor((v - mn) / (mx - mn) * 255 + 0.5)
        vq = mn + codes / 255 * (mx - mn)
        exact = q @ v / (np.linalg.norm(q) * np.linalg.norm(v))
        approx = q @ vq / (np.linalg.norm(q) * np.linalg.norm(vq))
        assert abs(exact - approx) < 5e-3


def test_pca_power_matches_integer_model(spark):
    """The distributed power iteration must equal a sequential
    numpy int64 model of the same quantized arithmetic, to the last
    milli-unit (the oracle proves cross-engine equality; this proves
    the arithmetic is the one documented)."""
    import numpy as np

    from gcd_etl_spark.plans.similarity import (
        PCA_A_SCALE,
        PCA_ITERS,
        PCA_V_SCALE,
        emb_pca_power,
    )
    from gcd_etl_spark.sources.catalog import read_table

    got = {
        r["dim_idx"]: r["component_milli"]
        for r in emb_pca_power(spark, SF_SMOKE).collect()
    }
    vecs = [
        r["embedding"]
        for r in read_table(spark, SF_SMOKE, "embeddings").collect()
    ]
    A = np.floor(np.asarray(vecs, dtype=np.float64) * PCA_A_SCALE).astype(np.int64)
    v = np.full(A.shape[1], PCA_V_SCALE, dtype=np.int64)
    for _ in range(PCA_ITERS):
        y = A @ v
        z = A.T @ y
        m = max(int(np.max(np.abs(z))), 1)
        # truncating division toward zero (Spark div / DuckDB int //)
        v = (z * PCA_V_SCALE // m) + ((z * PCA_V_SCALE % m != 0) & ((z < 0) != (m < 0)))
        v = v.astype(np.int64)
    want = {j + 1: int(v[j]) for j in range(A.shape[1])}
    assert got == want
    assert max(abs(x) for x in got.values()) == PCA_V_SCALE


def test_interval_overlap_matches_sequential_model(spark):
    """Overlap pairs must equal a per-user sequential sessionization
    + O(s²) interval intersection."""
    from gcd_etl_spark.plans.windows import OVERLAP_GAP_US, join_interval_overlap
    from gcd_etl_spark.sources.catalog import read_table

    got = {
        (r["user_id"], r["browse_start_us"], r["buy_start_us"]): r["overlap_us"]
        for r in join_interval_overlap(spark, SF_SMOKE).collect()
    }
    ev = read_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    ).collect()

    def sessionize(times):
        times.sort()
        out, start, prev = [], None, None
        for us in times:
            if prev is None or us - prev >= OVERLAP_GAP_US:
                if start is not None:
                    out.append((start, prev))
                start = us
            prev = us
        if start is not None:
            out.append((start, prev))
        return out

    browse: dict[int, list[int]] = {}
    buy: dict[int, list[int]] = {}
    for r in ev:
        if r["event_type"] in ("view", "click"):
            browse.setdefault(r["user_id"], []).append(r["us"])
        elif r["event_type"] in ("purchase", "signup"):
            buy.setdefault(r["user_id"], []).append(r["us"])
    want = {}
    for uid in set(browse) & set(buy):
        for b0, b1 in sessionize(browse[uid]):
            for t0, t1 in sessionize(buy[uid]):
                if b0 <= t1 and t0 <= b1:
                    want[(uid, b0, t0)] = min(b1, t1) - max(b0, t0)
    assert got == want


def test_bpe_matches_sequential_trainer(spark):
    """The distributed BPE rounds must equal a reference single-node
    trainer over the same word-frequency dict (greedy left-to-right
    application, (count DESC, pair) tie-break)."""
    import re
    from collections import Counter

    from gcd_etl_spark.plans.corpus import BPE_ROUNDS, bpe_learn_merges
    from gcd_etl_spark.sources.catalog import read_table

    got = [
        (r["round"], r["sym_a"], r["sym_b"], r["merged"], r["pair_count"])
        for r in bpe_learn_merges(spark, SF_SMOKE).orderBy("round").collect()
    ]
    texts = [
        r["text"] for r in read_table(spark, SF_SMOKE, "documents").collect()
    ]
    vocab = Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", (t or "").lower()):
            if w:
                vocab[w] += 1
    words = {tuple(w): c for w, c in ((list(w), c) for w, c in vocab.items())}
    want = []
    for rnd in range(1, BPE_ROUNDS + 1):
        pc = Counter()
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merged = a + b
        want.append((rnd, a, b, merged, cnt))
        new_words = Counter()
        for syms, c in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] += c
        words = dict(new_words)
    assert got == want


def test_tree_rollup_root_covers_all_parts(spark):
    """The root's subtree aggregates every part exactly once, and
    each node's subtree sum equals its children's plus itself."""
    from gcd_etl_spark.plans.relational import agg_tree_rollup
    from gcd_etl_spark.sources.catalog import read_table

    rows = {r["node_id"]: r for r in agg_tree_rollup(spark, SF_SMOKE).collect()}
    part = read_table(spark, SF_SMOKE, "part").collect()
    n = len(part)
    total_cents = sum(round(p["p_retailprice"] * 100) for p in part)
    assert rows[1]["subtree_size"] == sum(1 for p in part if p["p_partkey"] >= 1)
    assert rows[1]["subtree_cents"] == sum(
        round(p["p_retailprice"] * 100) for p in part if p["p_partkey"] >= 1
    )
    keys = {p["p_partkey"] for p in part}
    for node, r in rows.items():
        if node == 0 or node == 1:
            continue
        child_sizes = sum(
            rows[c]["subtree_size"] for c in (2 * node, 2 * node + 1) if c in rows
        )
        self_size = 1 if node in keys else 0
        assert r["subtree_size"] == child_sizes + self_size, node
