"""Round-9 additions: the absolute-ceiling link-prediction recall
gate (promised by round 8's docstrings but never committed — r8
verdict item 1), the empty-input pin for the abscap query (r7
convention), and oracle rows for the queries this round adds."""

from __future__ import annotations

import pytest

from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.plans.analytics import (
    LINKPRED_ABS_CAP,
    LINKPRED_RECALL_FLOOR_PCT,
    LINKPRED_WEDGE_BUDGET_PER_CENTER,
    linkpred_abscap_recall_stats,
)
from tests.conftest import assert_matches_oracle

# ------------------- abscap link prediction: recall gate (hub graph)


def test_linkpred_abscap_recall_gate(spark, sf_smoke):
    """The absolute-ceiling cap on the hub-bearing zipf×uniform graph
    must (a) actually engage — at least one center above the ceiling
    exists to prune, so the gate is not vacuous — and (b) recover at
    least LINKPRED_RECALL_FLOOR_PCT% of the exact top-K. The
    registered query (graph_link_prediction_abscap) carries the full
    value-hash oracle of the capped computation and benches at the
    capped cost; this anchor comparison is the part too expensive to
    ship in-plan (it runs the exact O(Σdeg²) wedge count the hub
    makes intolerable at scale)."""
    prune_engaged, n_hits, n_anchor = linkpred_abscap_recall_stats(spark, sf_smoke)
    assert prune_engaged, "absolute ceiling pruned no center — gate is vacuous"
    assert n_anchor > 0
    assert n_hits * 100 >= LINKPRED_RECALL_FLOOR_PCT * n_anchor, (
        f"abscap recall {n_hits}/{n_anchor} below "
        f"{LINKPRED_RECALL_FLOOR_PCT}% floor"
    )


def test_abscap_derived_from_wedge_budget():
    """The deployment rule cap = sqrt(wedge budget per center) is
    enforced in code (ADVICE round 8): the cap must be the integer
    square root of the budget, and squaring it must not exceed the
    budget."""
    assert LINKPRED_ABS_CAP * LINKPRED_ABS_CAP <= LINKPRED_WEDGE_BUDGET_PER_CENTER
    assert (LINKPRED_ABS_CAP + 1) ** 2 > LINKPRED_WEDGE_BUDGET_PER_CENTER
    assert LINKPRED_ABS_CAP == 500  # pin the production value


@pytest.mark.parametrize(
    "name",
    [
        "graph_link_prediction_abscap",
        "gcd_snapshot_nightly_overwrite",
        # ADVICE round 7: the id%10 incremental variant had no
        # value-level oracle row in any pytest parametrization
        "gcd_snapshot_incremental",
        "dedup_delta_vs_corpus",
        "dedup_keep_canonical",
        "dedup_crossdoc_spans",
        "pack_concat_split",
        "stream_dedup_against_corpus",
        "sim_ann_ivfsq8_persisted",
        "dedup_index_append_cycle",
        "dedup_span_excision",
        "batch_length_buckets",
    ],
)
def test_round9_queries_match_oracle(spark, sf_smoke, name):
    q = QUERIES[name]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=name)


def test_stream_dedup_against_corpus_matches_nightly(spark, sf_smoke):
    """Batch/stream unification for the ingest gate: the union of the
    streaming micro-batch verdicts must equal the one-shot nightly
    query exactly (per-doc verdicts are independent, so batching
    cannot change the answer)."""
    s = sorted(
        map(tuple, QUERIES["stream_dedup_against_corpus"].build(spark, sf_smoke).collect())
    )
    b = sorted(map(tuple, QUERIES["dedup_delta_vs_corpus"].build(spark, sf_smoke).collect()))
    assert s == b
    assert s, "fixture produced no delta-vs-corpus pairs — parity is vacuous"


def test_pack_concat_split_no_single_partition_exchange(spark, sf_smoke):
    """The whole point of the two-phase prefix sum: the naive global
    cumsum window funnels EVERYTHING through Exchange SinglePartition.
    The registered plan must never contain one."""
    df = QUERIES["pack_concat_split"].build(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_pack_concat_split_offsets_are_contiguous(spark, sf_smoke):
    """Global packing invariant the per-row oracle comparison implies
    but is worth stating directly: offsets sorted by doc_id are the
    exclusive prefix sum of token counts (no gaps, no overlaps), and
    the stream total equals the last doc's offset + its tokens."""
    rows = (
        QUERIES["pack_concat_split"]
        .build(spark, sf_smoke)
        .orderBy("doc_id")
        .collect()
    )
    run = 0
    for r in rows:
        assert r["start_offset"] == run
        run += r["n_tokens"]


# --------------------------- ADVICE round-7 fixes, pinned


def test_config_flow_style_one_liner_routes_to_text():
    """A flow-style one-line YAML document must parse as TEXT, not be
    probed as a file path (it used to die with FileNotFoundError)."""
    from gcd_etl_spark.config import load_config

    cfg = load_config('{gcdatabase: {url: "jdbc:mysql://h/db", user: u}}')
    assert cfg.source.url == "jdbc:mysql://h/db"
    assert cfg.source.user == "u"


def test_config_path_still_routes_to_file(tmp_path):
    from gcd_etl_spark.config import load_config

    p = tmp_path / "c.yml"
    p.write_text("gcdatabase:\n  url: jdbc:mysql://h2/db2\n")
    assert load_config(str(p)).source.url == "jdbc:mysql://h2/db2"


def test_update_sessions_orders_across_chunks():
    """Arrow may split one group's micro-batch into several pandas
    chunks with NO ordering between them; the sessionizer must
    produce the same split as a single sorted chunk (it used to sort
    each chunk independently, so a later chunk could deliver earlier
    timestamps and corrupt the session boundaries)."""
    import pandas as pd

    from gcd_etl_spark.streaming.stateful import SESSION_GAP_US, _update_sessions

    class FakeState:
        hasTimedOut = False
        exists = False

        def __init__(self):
            self.updated = None
            self.timeout = None

        def update(self, v):
            self.updated = v

        def setTimeoutTimestamp(self, v):
            self.timeout = v

    h = 3_600 * 1_000_000
    # one user's events: two sessions split by a > gap hole, with the
    # EARLIEST event delivered in the SECOND chunk
    t0 = 1_700_000_000 * 1_000_000
    sess2 = [t0 + SESSION_GAP_US + 10 * h, t0 + SESSION_GAP_US + 11 * h]
    sess1 = [t0, t0 + h, t0 + 2 * h]

    def mk(us_list):
        return pd.DataFrame({"ts": pd.to_datetime([u * 1000 for u in us_list])})

    # chunk 1 carries the LATER events, chunk 2 the earlier ones
    state = FakeState()
    out = list(_update_sessions((7,), [mk(sess2), mk(sess1)], state))
    assert len(out) == 1
    emitted = out[0]
    assert emitted["session_start_us"].tolist() == [sess1[0]]
    assert emitted["session_end_us"].tolist() == [sess1[-1]]
    assert emitted["n_events"].tolist() == [3]
    # open session = sess2, held in state
    assert state.updated == (sess2[0], sess2[-1], 2)


# ----------------- nightly dynamic-partition-overwrite composition


def test_nightly_overwrite_repairs_stale_partition_only(spark, sf_smoke):
    """The nightly loop must be non-vacuous AND surgical:
    1. the staged prior table's watermark bucket is genuinely stale
       (rows missing vs the full build) — so a no-op would fail;
    2. after the run, the table matches the full build row count;
    3. every carried (non-watermark) partition's data files are
       byte-untouched (same paths, sizes, mtimes) — the carry is
       metadata-only, which is what makes the nightly affordable at
       100 TB; only the watermark partition was rewritten."""
    import os

    from pyspark.sql import functions as F

    from gcd_etl_spark.plans.gcd import (
        _nightly_prior_table,
        build_flagship,
        gcd_snapshot_nightly_overwrite,
    )

    name = _nightly_prior_table(spark, sf_smoke)
    loc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").where(
        "col_name = 'Location'"
    ).collect()[0]["data_type"].replace("file:", "")
    full_n = build_flagship(spark, sf_smoke).count()
    stale_n = spark.table(name).count()
    # (1) poison engaged — unless already repaired earlier in this
    # process (the prior is staged once; a previous test/oracle run
    # may have run the nightly already). Track file state either way.
    def snap_files():
        state = {}
        for root, _dirs, files in os.walk(loc):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    state[p] = (st.st_size, st.st_mtime_ns)
        return state

    before = snap_files()
    out = gcd_snapshot_nightly_overwrite(spark, sf_smoke)
    assert out.count() == full_n  # (2) repaired to the full build
    after = snap_files()
    w = (
        spark.table(name)
        .agg(F.max("mod_bucket").alias("w"))
        .collect()[0]["w"]
    )
    wtag = f"mod_bucket={w}"
    carried_before = {p: v for p, v in before.items() if wtag not in p}
    carried_after = {p: v for p, v in after.items() if wtag not in p}
    # (3) carried partitions byte-untouched
    assert carried_before == carried_after
    # watermark partition rewritten: file set changed
    hot_before = {p for p in before if wtag in p}
    hot_after = {p for p in after if wtag in p}
    assert hot_after and hot_after != hot_before
    # the poison was real at staging time: stale table had fewer rows
    # than full (if this process staged it fresh) or equal (already
    # repaired); never more
    assert stale_n <= full_n


# ---------------------- RocksDB state store (r7 verdict item 6)


def test_rocksdb_state_store_provider_parity(spark, sf_smoke):
    """The stateful sessionizer must produce IDENTICAL sessions under
    the on-heap HDFS provider and the RocksDB provider — the state
    store is an executor-memory implementation detail, never a
    semantics knob. RocksDB is the 100 TB answer (state off-heap,
    keyspace unbounded by executor heap). The runner uses whatever
    provider its session has, so RocksDB runs in a child session that
    sets Spark's own provider key. Runs the REGISTERED query both ways
    so the staging (time-ordered batches + sentinel watermark
    advancement) is exactly the production shape."""
    key = "spark.sql.streaming.stateStore.providerClass"
    q = QUERIES["stream_sessions_timeout"]
    base = sorted(tuple(r) for r in q.build(spark, sf_smoke).collect())
    rocks_session = spark.newSession()
    rocks_session.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    rocks = sorted(tuple(r) for r in q.build(rocks_session, sf_smoke).collect())
    assert base == rocks
    assert len(base) > 0
    assert "RocksDB" not in spark.conf.get(key)


# ------------------------------- empty-input robustness (r7 pin)
_EMPTY_OK_R9 = [
    "graph_link_prediction_abscap",
    "gcd_snapshot_nightly_overwrite",
    "dedup_delta_vs_corpus",
    "dedup_keep_canonical",
    "dedup_crossdoc_spans",
    "pack_concat_split",
    "stream_dedup_against_corpus",
    "sim_ann_ivfsq8_persisted",
    "dedup_index_append_cycle",
    "dedup_span_excision",
    "batch_length_buckets",
]


# ------------------- delta-vs-corpus dedup: persisted-index plan shape


def test_delta_vs_corpus_index_reuse_plan_shape(spark, sf_smoke):
    """The 100 TB property of dedup_delta_vs_corpus, pinned: the
    corpus's band index is read from the PERSISTED bucketed table
    (never re-derived from corpus text in the nightly plan), and the
    candidate join broadcasts the delta's bands — so the corpus side
    of the band join carries no shuffle exchange and no signature
    recomputation. Also pins that a second build reuses the staged
    index (idempotent, no re-write)."""
    import contextlib
    import io
    import os

    from gcd_etl_spark.sources.catalog import staged_dir, staged_name

    df = QUERIES["dedup_delta_vs_corpus"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # corpus index comes off the staged bucketed table...
    assert "corpus_band_idx_" in plan, plan[:2000]
    assert plan.count("Bucketed: true") >= 1, plan[:2000]
    # ...and the nightly side recomputes exactly one signature tree
    # (the delta's): formatted explain prints one partial_min per
    # minhash permutation (32), so a corpus-side signature branch
    # would double this to 64.
    assert plan.count("partial_min") == 32, plan.count("partial_min")
    # band join broadcasts the delta side
    assert "BroadcastHashJoin" in plan
    # idempotence: a rebuild reads the same staged table, not a rewrite
    idx_dir = staged_dir(spark, staged_name("corpus_band_idx", sf_smoke, "documents"))
    files_before = sorted(os.listdir(idx_dir))
    QUERIES["dedup_delta_vs_corpus"].build(spark, sf_smoke)
    files_after = sorted(os.listdir(idx_dir))
    assert files_before == files_after


def test_ivfsq8_persisted_index_reuse_plan_shape(spark, sf_smoke):
    """The ANN serving contract, pinned: the query plan reads the
    quantized corpus off the PERSISTED cell-bucketed index table —
    no per-query re-quantization (the plan must not contain the
    min-max quantization's array_min/array_max over the corpus scan
    on the index side) — the probe join broadcasts the query side,
    and a rebuild reuses the staged index byte-for-byte."""
    import contextlib
    import glob
    import io
    import os

    from gcd_etl_spark.sources.catalog import staged_dir, staged_name

    df = QUERIES["sim_ann_ivfsq8_persisted"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ivfsq8_index_" in plan, plan[:2000]
    assert plan.count("Bucketed: true") >= 1, plan[:2000]
    assert "BroadcastHashJoin" in plan
    # the quantization expressions live only in the staging write;
    # the query plan reconstructs (dequantizes) but never re-encodes
    assert "array_min" not in plan and "array_max" not in plan, plan[:2000]
    # the width-ruled quantizer (r13) suffixes the staged name with
    # its cell count — resolve the concrete dir by glob
    [idx_dir] = glob.glob(
        staged_dir(spark, staged_name("ivfsq8_index", sf_smoke, "embeddings")) + "_c*"
    )
    files_before = sorted(os.listdir(idx_dir))
    QUERIES["sim_ann_ivfsq8_persisted"].build(spark, sf_smoke)
    files_after = sorted(os.listdir(idx_dir))
    assert files_before == files_after


def test_index_append_cycle_catches_cross_night_dups(spark, tmp_path):
    """The fixture documents happen to contain no night-2-vs-night-1
    duplicates, so the sf-fixture oracle row alone cannot prove the
    APPEND matters. Plant one: doc 14 (night 1) and doc 7 (night 2)
    share a text no corpus doc has — the (night=2, 7, 14) verdict can
    ONLY come from night-1 bands appended to the index. Full oracle
    comparison on the planted dir too, so the planted world stays
    under the same differential check."""
    import pyspark.sql.functions as F

    from tests.conftest import assert_matches_oracle

    d = str(tmp_path / "sf_planted")
    base = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows = [(i, f"unique filler document number {i} with its own words entirely")
            for i in range(1, 30) if i not in (7, 14)]
    rows += [(7, base), (14, base)]
    spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("planted").alias("source"), F.length("text").alias("n_chars"),
    ).write.parquet(f"{d}/documents.parquet")
    q = QUERIES["dedup_index_append_cycle"]
    df = q.build(spark, d)
    got = sorted(map(tuple, df.collect()))
    assert (2, 7, 14) in {(n, a, b) for n, a, b, _ in got}, got
    # full differential on the planted world too (documents is the
    # only table the oracle references)
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(q.oracle).fetchall()))
    assert got == want


def test_index_append_preserves_bucket_colocation(spark, sf_smoke):
    """The docstring's scale claim, pinned: after the night-1 APPEND,
    the cycle index table still carries its bucket spec, so a
    bucket-key aggregation plans ZERO exchanges (and an equi-join on
    band_hash stays co-located). If the append ever degrades to a
    plain (unbucketed) write, this plans a shuffle and fails."""
    from gcd_etl_spark.sources.catalog import staged_name

    QUERIES["dedup_index_append_cycle"].build(spark, sf_smoke).collect()
    t = spark.table(staged_name("corpus_band_idx_cycle", sf_smoke))
    agg = t.groupBy("band_hash").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_span_excision_consistent_with_crossdoc_scores(spark, sf_smoke):
    """The scorer and the remediator must agree: a document whose
    EVERY window is shared (shared_ppm = 1e6 in dedup_crossdoc_spans)
    has every token inside some shared gram, so excision must remove
    all of them (clean_md5 NULL); and a doc with shared_ppm = 0 must
    lose zero tokens. Also n_removed <= n_tokens everywhere."""
    from pyspark.sql import functions as F

    ex = QUERIES["dedup_span_excision"].build(spark, sf_smoke).alias("ex")
    sc = QUERIES["dedup_crossdoc_spans"].build(spark, sf_smoke).alias("sc")
    j = ex.join(sc, "doc_id").cache()
    assert j.where(F.col("n_removed") > F.col("ex.n_tokens")).count() == 0
    full = j.where(F.col("shared_ppm") == 1_000_000)
    assert full.count() > 0, "fixture has no fully-shared doc — vacuous"
    assert full.where(F.col("clean_md5").isNotNull()).count() == 0
    assert full.where(F.col("n_removed") != F.col("ex.n_tokens")).count() == 0
    clean = j.where(F.col("shared_ppm") == 0)
    assert clean.where(F.col("n_removed") != 0).count() == 0
    j.unpersist()


# ------------------- retention + cross-doc spans: invariants


def test_keep_canonical_invariants(spark, sf_smoke):
    """Structural guarantees the oracle comparison alone doesn't spell
    out: every document appears exactly once, every cluster keeps
    EXACTLY one document, and the kept one is the cluster's min id
    (the cluster label itself)."""
    from pyspark.sql import functions as F

    df = QUERIES["dedup_keep_canonical"].build(spark, sf_smoke).cache()
    n_docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").count()
    assert df.count() == n_docs
    assert df.select("doc_id").distinct().count() == n_docs
    per = df.groupBy("cluster_id").agg(
        F.sum(F.col("is_kept").cast("int")).alias("n_kept"),
        F.min("doc_id").alias("min_id"),
    )
    assert per.where(F.col("n_kept") != 1).count() == 0
    assert df.where("is_kept AND doc_id != cluster_id").count() == 0
    assert per.where(F.col("min_id") != F.col("cluster_id")).count() == 0
    df.unpersist()


def test_crossdoc_spans_bounds_and_duplicate_detection(spark, sf_smoke):
    """shared_slots <= n_windows (so ppm <= 1e6), and a doc whose text
    verbatim-duplicates another's (exact dups exist in the fixture via
    dedup_exact's construction — verify dynamically) must score
    shared_ppm = 1e6 and keep = false."""
    from pyspark.sql import functions as F

    df = QUERIES["dedup_crossdoc_spans"].build(spark, sf_smoke).cache()
    assert df.where(F.col("shared_slots") > F.col("n_windows")).count() == 0
    assert df.where((F.col("shared_ppm") < 0) | (F.col("shared_ppm") > 1_000_000)).count() == 0
    # find a full-text duplicate pair in the fixture, if any
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    dup_ids = [
        r["doc_id"]
        for r in docs.groupBy(F.lower("text").alias("t"))
        .agg(F.collect_list("doc_id").alias("ids"), F.count(F.lit(1)).alias("n"))
        .where("n >= 2")
        .select(F.explode("ids").alias("doc_id"))
        .collect()
    ]
    if dup_ids:
        flagged = df.where(F.col("doc_id").isin(dup_ids))
        assert flagged.where("shared_ppm != 1000000").count() == 0
        assert flagged.where("keep").count() == 0
    df.unpersist()


@pytest.fixture(scope="module")
def empty_sf_dir_r9(spark):
    import tempfile

    d = tempfile.mkdtemp(prefix="gcd_empty_r9_")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(
            0
        ).write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    return d


@pytest.mark.parametrize("name", _EMPTY_OK_R9)
def test_empty_input_does_not_raise_r9(spark, empty_sf_dir_r9, name):
    rows = QUERIES[name].build(spark, empty_sf_dir_r9).limit(5).collect()
    assert isinstance(rows, list)
