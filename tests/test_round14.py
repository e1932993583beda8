"""Round-14 pins (optimization round 2): the hardening items from the
round-13 verdict/advice must hold.

* verdict item 7 — staged-index name resolution refuses RULE drift: a
  width-rule change over unchanged data re-stages instead of silently
  resolving to the stale staged width.
* advice r13 — an undersized caller-supplied training sample falls
  back to a fresh collect instead of silently training on fewer rows;
  a legitimately-short sample from a small corpus does NOT re-collect.
* advice r14 — the spread decision re-decides when the file-split
  settings change.
"""

from __future__ import annotations

import numpy as np

from gcd_etl_spark.operators.similarity import (
    PQ_TRAIN_SAMPLE,
    TrainSample,
    _sample_covers,
    pq_train_codebooks,
    train_coarse_centroids,
    train_sample,
)


def _emb_frame(spark, n=40, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    rows = [(int(i), [float(x) for x in rng.randn(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# ------------------------------------- spread decision vs split config
def test_spread_decision_follows_split_config(spark, sf_smoke):
    """One small file is one scan split under the default 128 MiB
    maxPartitionBytes, so read_table_spread repartitions; at 1 KiB the
    same file splits past the floor and must come back untouched — a
    decision taken under the old config must not be replayed."""
    from gcd_etl_spark.sources.catalog import read_table_spread

    def spread(df) -> bool:
        return "Repartition" in df._jdf.queryExecution().logical().toString()

    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    assert spread(read_table_spread(spark, sf_smoke, "documents"))
    spark.conf.set(key, "1024")
    try:
        assert not spread(read_table_spread(spark, sf_smoke, "documents"))
    finally:
        spark.conf.set(key, orig)
    assert spread(read_table_spread(spark, sf_smoke, "documents"))


# ------------------------------------- staged-index rule-drift guard
def test_resolve_staged_cells_refuses_rule_drift(spark, tmp_path):
    from gcd_etl_spark.operators import similarity as S
    from gcd_etl_spark.plans import similarity as P

    name_prefix = "r14_rule_drift_idx_deadbeef_"
    n_rows = 500
    n_cells = S.suggest_ivf_cells(n_rows)
    name = f"{name_prefix}c{n_cells}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.range(3).write.mode("overwrite").saveAsTable(name)
    try:
        # unstamped table: resolution must NOT trust the bare name
        assert (
            P._resolve_staged_cells(spark, name_prefix, S.suggest_ivf_cells)
            is None
        )
        P._stamp_staged_rows(spark, name, n_rows)
        assert P._staged_rows_prop(spark, name) == n_rows
        # stamped + unchanged rule: resolves without any data job
        assert (
            P._resolve_staged_cells(spark, name_prefix, S.suggest_ivf_cells)
            == n_cells
        )
        # stamped + DRIFTED rule (floor bump): the stale width must be
        # refused, sending the caller down the count-and-restage path
        bumped = lambda n: S.suggest_ivf_cells(n, floor=4 * n_cells)  # noqa: E731
        assert bumped(n_rows) != n_cells
        assert P._resolve_staged_cells(spark, name_prefix, bumped) is None
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ensure_ivfpq_index_restages_on_rule_drift(spark, monkeypatch):
    """End-to-end: after staging under the current rule, a bumped
    width rule must re-stage under the new name (not reuse stale)."""
    from gcd_etl_spark.operators import similarity as S
    from gcd_etl_spark.plans import similarity as P
    from gcd_etl_spark.sources.catalog import read_table_spread, staged_name

    sf_dir = "/root/testdata/sf0.001"
    emb = read_table_spread(spark, sf_dir, "embeddings")
    _codes, cents, _books = P.ensure_ivfpq_index(spark, sf_dir, emb)
    staged = f"SHOW TABLES LIKE '{staged_name('ivfpq_*', sf_dir, 'embeddings')}_c*'"
    base_cells = len(cents)

    bumped = 2 * base_cells
    monkeypatch.setattr(S, "suggest_ivf_cells", lambda n, floor=16: bumped)
    try:
        _codes2, cents2, _ = P.ensure_ivfpq_index(spark, sf_dir, emb)
        assert len(cents2) == bumped  # re-trained at the new width
        rows = [
            r["tableName"]
            for r in spark.sql(staged).collect()
        ]
        assert any(n.endswith(f"_c{bumped}") for n in rows)
    finally:
        # drop the drift-staged tables: the shared warehouse's serving
        # pins expect one width per fixture fingerprint
        for r in spark.sql(staged).collect():
            if r["tableName"].endswith(f"_c{bumped}"):
                spark.sql(f"DROP TABLE IF EXISTS {r['tableName']}")


# ------------------------------------------- training-sample guard
def test_undersized_hand_sample_falls_back_to_fresh_collect(spark):
    emb = _emb_frame(spark, n=40)
    # a hand-built 2-row plain list is NOT a valid sample for 4 cells:
    # the guard must ignore it and train on the real lowest-id head
    short = train_sample(emb, 2)
    assert isinstance(short, TrainSample) and short.n_requested == 2
    c_guarded = train_coarse_centroids(
        emb, n_cells=4, dim=8, sample_rows=list(short)
    )
    c_plain = train_coarse_centroids(emb, n_cells=4, dim=8)
    assert np.array_equal(c_guarded, c_plain)
    # same for the PQ codebooks (PQ_TRAIN_SAMPLE head)
    cent = c_plain
    b_guarded = pq_train_codebooks(emb, cent, m=2, sample_rows=list(short))
    b_plain = pq_train_codebooks(emb, cent, m=2)
    assert np.array_equal(b_guarded, b_plain)


def test_legit_short_sample_from_small_corpus_is_trusted(spark):
    emb = _emb_frame(spark, n=10)  # corpus smaller than PQ_TRAIN_SAMPLE
    sample = train_sample(emb, max(PQ_TRAIN_SAMPLE, 4))
    assert len(sample) == 10 and sample.n_requested >= PQ_TRAIN_SAMPLE
    assert _sample_covers(sample, PQ_TRAIN_SAMPLE)  # no re-collect
    c = train_coarse_centroids(emb, n_cells=4, dim=8, sample_rows=sample)
    assert np.array_equal(c, train_coarse_centroids(emb, n_cells=4, dim=8))


def test_sample_covers_semantics():
    tagged = TrainSample([1, 2, 3])
    tagged.n_requested = 100
    assert _sample_covers(tagged, 50)  # collected with a big request
    assert _sample_covers([1, 2, 3], 3)  # long enough on its own
    assert not _sample_covers([1, 2, 3], 4)  # untagged short list


# --------------------- gate semi-join prune (round-14 verdict item 1)
def test_gate_prune_value_identical_and_plan_pruned(spark, sf_smoke, tmp_path):
    """The candidate-id semi-join prune on the gate verify's corpus
    side (guide §3.2): the production batch worker, fed the whole
    delta as one batch, must emit exactly the rows of the unpruned
    nightly query (dedup_delta_vs_corpus), and the pruned verify plan
    must show the corpus shingle projection ABOVE a LeftSemi join on
    the candidate ids (the O(corpus) per-batch feature compute becomes
    O(candidates))."""
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans import QUERIES
    from gcd_etl_spark.plans.dedup import DELTA_MOD, ensure_corpus_band_index
    from gcd_etl_spark.plans.streaming_plans import delta_dedup_score
    from gcd_etl_spark.sources.catalog import read_table_spread
    from gcd_etl_spark.streaming.jobs import gate_sink

    docs = read_table_spread(spark, sf_smoke, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    idx = ensure_corpus_band_index(spark, sf_smoke, docs.where(~is_delta))
    batch = docs.where(is_delta)

    out = str(tmp_path / "gate")
    gate_sink(out, delta_dedup_score(docs, idx))(batch, 0)
    gate = sorted(map(tuple, spark.read.parquet(f"{out}/batch_id=0").collect()))
    nightly = QUERIES["dedup_delta_vs_corpus"].build(spark, sf_smoke)
    assert gate == sorted(map(tuple, nightly.collect()))
    assert gate, "vacuous: the smoke fixture found no dups"

    # plan evidence: the pruned corpus side carries a LeftSemi join
    from gcd_etl_spark.operators import dedup as D

    cand = spark.createDataFrame([(2, 1)], "id_a long, id_b long")
    pruned_sets = D.shingle_sets(
        docs.join(
            F.broadcast(cand.select(F.col("id_b").alias("doc_id")).distinct()),
            "doc_id",
            "left_semi",
        )
    )
    verified = D.jaccard_pairs(
        docs, cand, threshold=0.5, sets_a=D.shingle_sets(batch), sets_b=pruned_sets
    )
    plan = verified._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


def test_semantic_gate_prune_value_identical(spark, sf_smoke, tmp_path):
    """Same pin for the CAPPED semantic gate worker: with its corpus
    side pruned it emits exactly the rows of the unpruned nightly
    capped query."""
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans import QUERIES
    from gcd_etl_spark.plans.dedup import DELTA_MOD, ensure_srp_bucket_index
    from gcd_etl_spark.plans.streaming_plans import semantic_gate_score_capped
    from gcd_etl_spark.sources.catalog import read_table_spread
    from gcd_etl_spark.streaming.jobs import gate_sink

    emb = read_table_spread(spark, sf_smoke, "embeddings")
    is_delta = F.col("vec_id") % DELTA_MOD == 0
    idx = ensure_srp_bucket_index(spark, sf_smoke, emb.where(~is_delta), capped=True)
    batch = emb.where(is_delta)

    out = str(tmp_path / "gate")
    gate_sink(out, semantic_gate_score_capped(spark, sf_smoke, idx))(batch, 0)
    gate = spark.read.parquet(f"{out}/batch_id=0")
    nightly = QUERIES["dedup_semantic_delta_vs_corpus_capped"].build(spark, sf_smoke)
    rows = lambda df: sorted(  # noqa: E731
        map(tuple, df.select("delta_id", "corpus_id", "dot", "cos_ppm").collect())
    )
    assert rows(gate) == rows(nightly)
