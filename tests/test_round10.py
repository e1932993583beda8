"""Round-10 verdict items, pinned.

* The exact-Jaccard quadratic anchors (dedup_ngram_jaccard pair
  finding + the dedup_clusters component step) refuse oversized
  corpora and name the sub-quadratic production path — closing the
  repo's last unguarded super-linear plan (round-9 verdict item 1).
"""

from __future__ import annotations

import pytest

from gcd_etl_spark.plans import QUERIES


def test_quadratic_dedup_anchors_guarded(spark, sf_smoke, monkeypatch):
    """Beyond JACCARD_ANCHOR_MAX_DOCS both anchors refuse at build
    time with an error naming dedup_keep_canonical (the registered
    sub-quadratic composition) — mirroring sim_embedding_neardup /
    neardup_pairs_blas. Under the ceiling they still build."""
    from gcd_etl_spark.plans import dedup as dedup_plans

    monkeypatch.setattr(dedup_plans, "JACCARD_ANCHOR_MAX_DOCS", 10)
    for name in ("dedup_clusters", "dedup_ngram_jaccard"):
        with pytest.raises(ValueError, match="dedup_keep_canonical"):
            QUERIES[name].build(spark, sf_smoke)

    monkeypatch.setattr(dedup_plans, "JACCARD_ANCHOR_MAX_DOCS", 100_000)
    # sanity: under the ceiling the plan builds (no execution needed)
    QUERIES["dedup_clusters"].build(spark, sf_smoke)


# ------------------------- trained-quantizer ANN (round-9 verdict 4)


@pytest.fixture(scope="module")
def tiny_emb_dir(spark):
    """A 20-vector corpus with 1-BASED ids — the exact shape that made
    the old `vec_id % 62` centroid sample select NOTHING (round-10
    ADVICE low #2): no id is a multiple of 62, so the modulo index
    staged zero centroids and the persisted ANN query returned an
    empty frame against a non-empty oracle."""
    import tempfile

    import numpy as np
    import pyspark.sql.functions as F

    d = tempfile.mkdtemp(prefix="gcd_tinyemb_")
    rng = [
        (
            i,
            [float(np.sin(i * 37 + j) * 0.5) for j in range(64)],
        )
        for i in range(1, 21)
    ]
    spark.createDataFrame(rng, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(f"{d}/embeddings.parquet")
    return d


def test_small_corpus_trains_real_centroids(spark, tiny_emb_dir):
    """ADVICE pin: a small-but-nonempty corpus must stage real
    trained centroids and the persisted ANN queries must emit their
    per-query rows (never an empty frame vs a non-empty oracle)."""
    from gcd_etl_spark.plans import QUERIES
    from gcd_etl_spark.plans.similarity import ensure_ivfsq8_index
    from gcd_etl_spark.sources.catalog import read_table_spread

    emb = read_table_spread(spark, tiny_emb_dir, "embeddings")
    _, cent = ensure_ivfsq8_index(spark, tiny_emb_dir, emb)
    assert cent.size > 0 and cent.shape[1] == 64

    for name in ("sim_ann_ivfsq8_persisted", "sim_ann_ivfpq_persisted"):
        rows = QUERIES[name].build(spark, tiny_emb_dir).collect()
        assert len(rows) == 4, (name, rows)  # query set = vec_id < 5 -> ids 1..4
        assert all(r["n_exact"] == 10 for r in rows)


def test_pq_adc_scores_match_explicit_reconstruction(spark, sf_smoke):
    """The ADC identity, pinned numerically: the LUT-gather cosine
    pq_adc_topk emits must equal the cosine of the query against the
    EXPLICITLY reconstructed vector c_cell + concat(cb[m][code_m])
    (they are the same arithmetic, factored differently). Catches any
    subspace-indexing or cross-term mistake in the LUT tables."""
    import numpy as np

    from gcd_etl_spark.operators import similarity as S
    from gcd_etl_spark.plans.similarity import EMB_DIM, TOP_K, _query_set
    from gcd_etl_spark.sources.catalog import read_table_spread

    emb = read_table_spread(spark, sf_smoke, "embeddings")
    cent = S.train_coarse_centroids(emb, n_cells=16, dim=EMB_DIM)
    cb = S.pq_train_codebooks(emb, cent)
    idx = S.pq_encode(emb, cent, cb)
    ann = S.pq_adc_topk(idx, _query_set(emb), cent, cb, nprobe=4, k=TOP_K)

    codes = {r["neighbor_id"]: (r["cell"], r["codes"]) for r in idx.collect()}
    queries = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in _query_set(emb).collect()
    }
    m, _, dsub = cb.shape
    checked = 0
    for r in ann.collect():
        cell, cvec = codes[r["neighbor_id"]]
        recon = cent[cell] + np.concatenate([cb[i, cvec[i]] for i in range(m)])
        q = queries[r["query_id"]]
        expect = float(q @ recon / (np.linalg.norm(q) * np.linalg.norm(recon)))
        assert abs(round(expect, 6) - r["cosine"]) <= 1e-6, r
        checked += 1
    assert checked >= 10


def test_ivfpq_persisted_index_reuse_plan_shape(spark, sf_smoke):
    """Same serving contract as the SQ8 pin: the PQ query plan reads
    the persisted cell-bucketed CODE table (8 bytes/vector — the raw
    corpus is never re-encoded per query), the probe join broadcasts
    the query side, and a rebuild reuses the staged files."""
    import contextlib
    import io
    import os
    import re
    from urllib.parse import urlparse

    from gcd_etl_spark.plans import QUERIES

    df = QUERIES["sim_ann_ivfpq_persisted"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ivfpq_codes_" in plan, plan[:2000]
    assert plan.count("Bucketed: true") >= 1, plan[:2000]
    assert "BroadcastHashJoin" in plan
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_smoke.rstrip("/")))
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    from gcd_etl_spark.sources.catalog import table_fingerprint
    # the width-ruled quantizer (r13) suffixes the staged name with
    # its cell count — resolve the concrete dir by glob
    import glob as _glob
    [idx_dir] = _glob.glob(
        os.path.join(
            warehouse,
            f"ivfpq_codes_{tag}_{table_fingerprint(sf_smoke, 'embeddings')}_c*",
        )
    )
    files_before = sorted(os.listdir(idx_dir))
    QUERIES["sim_ann_ivfpq_persisted"].build(spark, sf_smoke)
    files_after = sorted(os.listdir(idx_dir))
    assert files_before == files_after


# --------------- streaming ingest gate: restart + replay (verdict 7)


def test_stream_dedup_restart_and_replay(spark, sf_smoke, tmp_path):
    """Kill-and-restart semantics of the streaming ingest gate,
    proven on the PRODUCTION batch worker (delta_dedup_batch_fn):

    1. a first query processes the initial delta files and stops
       (availableNow) — the 'killed' process;
    2. a NEW query object starts from the SAME checkpoint after more
       delta files land: only the new files are processed, the old
       verdict partitions are untouched, and the converged union
       value-matches the one-shot nightly dedup_delta_vs_corpus;
    3. an already-committed batch is deliberately RE-FIRED (the
       at-least-once redelivery a restart can cause): the
       batch_id-keyed overwrite sink absorbs it and the union is
       byte-identical."""
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans.dedup import DELTA_MOD, ensure_corpus_band_index
    from gcd_etl_spark.plans.streaming_plans import delta_dedup_batch_fn
    from gcd_etl_spark.sources.catalog import read_table_spread

    docs = read_table_spread(spark, sf_smoke, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    idx = ensure_corpus_band_index(spark, sf_smoke, docs.where(~is_delta))
    delta = docs.where(is_delta)
    d1 = delta.where(F.col("doc_id") % 2 == 0)
    d2 = delta.where(F.col("doc_id") % 2 == 1)

    staged = str(tmp_path / "staged")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    d1.repartition(1).write.mode("append").parquet(staged)
    spark.createDataFrame(
        [], "delta_id long, corpus_id long, jaccard double"
    ).write.parquet(f"{out_root}/batch_id=-1")
    batch_fn = delta_dedup_batch_fn(docs, idx, out_root)

    def run_stream() -> None:
        stream = (
            spark.readStream.format("parquet")
            .schema(delta.schema)
            .option("maxFilesPerTrigger", "1")
            .load(staged)
        )
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(batch_fn)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def union_rows():
        return sorted(
            map(
                tuple,
                spark.read.parquet(out_root)
                .select("delta_id", "corpus_id", "jaccard")
                .collect(),
            )
        )

    run_stream()  # process 1, then 'killed'
    partial = union_rows()

    d2.repartition(1).write.mode("append").parquet(staged)
    run_stream()  # process 2: fresh query object, same checkpoint
    converged = union_rows()
    assert set(partial) <= set(converged)

    nightly = sorted(
        map(tuple, QUERIES["dedup_delta_vs_corpus"].build(spark, sf_smoke).collect())
    )
    assert converged == nightly
    assert converged, "no delta-vs-corpus pairs — restart parity is vacuous"

    # at-least-once redelivery: re-fire committed batch 0 (its content
    # was d1's single file) — the overwrite sink must absorb it
    batch_fn(d1, 0)
    assert union_rows() == converged


# ------------- incremental span dedup via persisted gram-DF index


def test_crossdoc_delta_matches_full_recompute(spark, sf_smoke):
    """The nightly incremental scorer must agree EXACTLY with the
    full recompute restricted to the delta — same rows, same exact
    integer ppm — even though it never tokenizes the corpus."""
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans.dedup import DELTA_MOD

    full = (
        QUERIES["dedup_crossdoc_spans"]
        .build(spark, sf_smoke)
        .where(F.col("doc_id") % DELTA_MOD == 0)
    )
    delta = QUERIES["dedup_crossdoc_delta"].build(spark, sf_smoke)
    f_rows = sorted(map(tuple, full.collect()))
    d_rows = sorted(map(tuple, delta.collect()))
    assert f_rows == d_rows
    assert d_rows, "no delta docs scored — parity is vacuous"


def test_crossdoc_delta_reads_persisted_gram_index(spark, sf_smoke):
    """The 100 TB property, pinned: the delta plan probes the
    PERSISTED bucketed gram-DF table and scans documents.parquet
    exactly ONCE (the delta side) — the corpus is never re-tokenized.
    A rebuild reuses the staged index files."""
    import contextlib
    import io
    import os
    import re
    from urllib.parse import urlparse

    from gcd_etl_spark.sources.catalog import table_fingerprint

    df = QUERIES["dedup_crossdoc_delta"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "gram_df_idx_" in plan, plan[:2000]
    # the delta's gram counts are checkpointed once; the final plan
    # contains ZERO documents.parquet scans — in particular the
    # corpus text is never re-tokenized
    assert plan.count("documents.parquet") == 0, plan[:2000]
    assert "BroadcastHashJoin" in plan
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_smoke.rstrip("/")))
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    idx_dir = os.path.join(
        warehouse, f"gram_df_idx_{tag}_{table_fingerprint(sf_smoke, 'documents')}"
    )
    files_before = sorted(os.listdir(idx_dir))
    QUERIES["dedup_crossdoc_delta"].build(spark, sf_smoke)
    files_after = sorted(os.listdir(idx_dir))
    assert files_before == files_after


# --------------------------- bucketed index compaction (verdict 6)


def test_index_compaction_one_file_per_bucket(spark, sf_smoke):
    """The compaction contract, pinned at the file level: before —
    more files than buckets (the append's accretion); after — EXACTLY
    one data file per bucket; the flags the registered query emits
    are all 1 (rows preserved, files reduced, co-location still
    zero-exchange)."""
    import os
    import re

    from gcd_etl_spark.sources.sinks import count_table_data_files

    row = QUERIES["dedup_index_compaction"].build(spark, sf_smoke).collect()[0]
    assert row["rows_match"] == 1
    assert row["files_reduced"] == 1
    assert row["colocated_zero_exchange"] == 1
    assert row["n_band_rows"] > 0

    from gcd_etl_spark.sources.sinks import suggest_bucket_count_for

    nb = suggest_bucket_count_for(sf_smoke, "documents")
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_smoke.rstrip("/")))
    name = f"corpus_band_idx_cmpct_{tag}"
    assert count_table_data_files(spark, name) > nb  # fragmented
    assert count_table_data_files(spark, f"{name}_compact") == nb


def test_compaction_probe_counts_null_band_hash(spark):
    """The fused probe counts a NULL ``band_hash`` as one distinct band,
    as ``distinct().count()`` does, and flags a multiset mismatch."""
    from gcd_etl_spark.plans.dedup import compaction_probe

    schema = "corpus_id long, band_idx int, band_hash long"
    rows = [(1, 0, None), (2, 0, 5), (3, 0, 5), (4, 1, None)]
    orig = spark.createDataFrame(rows, schema)
    comp = spark.createDataFrame(rows[::-1], schema)
    probe = compaction_probe(orig, comp)
    assert probe["n_bands"] == comp.select("band_hash").distinct().count() == 2
    assert probe["n_rows"] == 4
    assert probe["mism"] == 0
    assert compaction_probe(orig, comp.limit(3))["mism"] == 1


# ------------------- gram-DF index update cycle (span-dedup lifecycle)


def test_gram_update_cycle_catches_cross_night_spans(spark):
    """The cross-night catch, proven non-vacuously with planted docs:
    a 5-gram that exists ONLY in one night-1 doc and one night-2 doc
    (never in the corpus). Without the night-1 append the night-2 doc
    would score shared_slots 0; with it, the night-2 row must show the
    shared windows. Night-1's own row must NOT count it (night 2 did
    not exist when night 1 was scored)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gcd_gramcycle_")
    planted = "zulu yankee xray whiskey victor"
    rows = []
    # corpus docs (ids % 7 != 0): distinct boilerplate, no planted gram
    for i in range(1, 14):
        if i % 7 == 0:
            continue
        rows.append((i, f"corpus doc {i} alpha bravo charlie delta echo {i}"))
    # night 1 (id 14): planted gram + unique filler
    rows.append((14, f"{planted} night one filler foxtrot golf hotel"))
    # night 2 (id 21): the SAME planted gram + different unique filler
    rows.append((21, f"india juliett kilo lima mike {planted}"))
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")

    out = {
        (r["night"], r["doc_id"]): r
    for r in QUERIES["dedup_gram_index_update_cycle"].build(spark, d).collect()}
    n1 = out[(1, 14)]
    n2 = out[(2, 21)]
    # night 1 saw only corpus + itself: the planted gram was unique then
    assert n1["shared_slots"] == 0, n1
    # night 2 sees the updated index: the planted gram's 1 window slot
    # (per doc) is shared ONLY because night 1's DFs were appended
    assert n2["shared_slots"] >= 1, n2


def test_gram_merge_zero_exchange_and_one_file_per_bucket(spark, sf_smoke):
    """The merge's two scale claims, pinned: the generation-fold
    aggregation plans ZERO exchanges (gram-bucketed source), and the
    merged table lands as exactly one file per bucket."""
    import os
    import re

    from gcd_etl_spark.sources.sinks import count_table_data_files

    QUERIES["dedup_gram_index_merge"].build(spark, sf_smoke).limit(1).collect()
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_smoke.rstrip("/")))
    name = f"gram_df_idx_merge_{tag}"
    agg = spark.table(name).groupBy("gram").agg({"df": "sum"})
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    assert count_table_data_files(spark, f"{name}_merged") == 16


def test_ann_index_append_colocation_and_flags(spark, sf_smoke):
    """The ANN append's claims, pinned: the appended code table still
    plans zero-exchange cell aggregations (bucket spec survived the
    append), and the registered query's gates read 1."""
    import os
    import re

    import pyspark.sql.functions as F

    from gcd_etl_spark.operators.similarity import suggest_ivf_cells
    from gcd_etl_spark.plans.similarity import EMB_DELTA_MOD
    from gcd_etl_spark.sources.catalog import read_table_spread

    rows = QUERIES["sim_ann_ivfpq_index_append"].build(spark, sf_smoke).collect()
    assert len(rows) == 5
    assert all(r["recall_floor_ok"] == 1 for r in rows)
    assert all(r["delta_reachable"] == 1 for r in rows)
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_smoke.rstrip("/")))
    # cycle table name carries the width-ruled cell config (round 13)
    n_corpus = (
        read_table_spread(spark, sf_smoke, "embeddings")
        .where(F.col("vec_id") % EMB_DELTA_MOD != 0)
        .count()
    )
    t = spark.table(f"ivfpq_cycle_codes_{tag}_c{suggest_ivf_cells(n_corpus)}")
    plan = (
        t.groupBy("cell").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan[:1500]


# ------------------- semantic dedup lifecycle (SemDeDup gate family)


def test_semantic_gate_stream_matches_nightly(spark, sf_smoke):
    """Batch/stream unification for the SEMANTIC ingest gate: the
    union of streaming micro-batch verdicts must equal the one-shot
    nightly delta query exactly (per-vector verdicts are independent,
    so batching cannot change the answer) — and non-vacuously."""
    s = sorted(
        map(
            tuple,
            QUERIES["stream_semantic_dedup_gate"].build(spark, sf_smoke).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            QUERIES["dedup_semantic_delta_vs_corpus"]
            .build(spark, sf_smoke)
            .collect(),
        )
    )
    assert s == b
    assert s, "fixture produced no semantic delta-vs-corpus pairs — vacuous"


def test_semantic_delta_never_reprojects_corpus(spark, sf_smoke):
    """The 100 TB property: the nightly plan reads the PERSISTED SRP
    bucket index (never re-projecting the corpus through the
    hyperplanes — the delta side is the only bucket computation) and
    a rebuild reuses the staged index files."""
    import contextlib
    import io
    import os
    import re
    from urllib.parse import urlparse

    from gcd_etl_spark.sources.catalog import table_fingerprint

    df = QUERIES["dedup_semantic_delta_vs_corpus"].build(spark, sf_smoke)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "srp_bucket_idx_" in plan, plan[:2000]
    # the only Arrow eval stage(s) are the delta branch's stacked
    # pair (Spark splits the quant+bucket UDF chain into two eval
    # nodes over the SAME delta scan); a corpus re-projection would
    # add a third node id on the index side of the join
    node_ids = set(re.findall(r"ArrowEvalPython \(\d+\)", plan))
    assert len(node_ids) <= 2, (node_ids, plan[:2000])
    assert "BroadcastHashJoin" in plan
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_smoke.rstrip("/")))
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    idx_dir = os.path.join(
        warehouse,
        f"srp_bucket_idx_{tag}_{table_fingerprint(sf_smoke, 'embeddings')}",
    )
    files_before = sorted(os.listdir(idx_dir))
    QUERIES["dedup_semantic_delta_vs_corpus"].build(spark, sf_smoke)
    files_after = sorted(os.listdir(idx_dir))
    assert files_before == files_after
