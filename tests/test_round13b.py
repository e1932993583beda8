"""Round-13 fourth-session pins: the job-count fusions must be
value-transparent.

C11 — the fused training sample (ONE bounded collect feeding the
Lloyd init, the PQ codebook sample, and the emptiness probe) must
produce BIT-identical centroids/codebooks to the separate-jobs path.
C13 — connected_components' one-action-per-round end test must keep
the exact semantics (values, singleton handling) and the loud
non-convergence contract (covered in test_advice_r2.py; here: a
labeling that is already final must end the loop, and a chain must
not end it early).
C14 — the tagged-union dictionary collect must equal the per-table
collects map-for-map, including the flag-elided table.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gcd_etl_spark.operators import dedup as D
from gcd_etl_spark.operators.similarity import (
    PQ_TRAIN_SAMPLE,
    pq_train_codebooks,
    train_coarse_centroids,
    train_sample,
)


def _emb_frame(spark, n=40, dim=8, seed=7):
    rng = np.random.RandomState(seed)
    rows = [
        (int(i), [float(x) for x in rng.randn(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_fused_sample_centroids_bit_identical(spark):
    emb = _emb_frame(spark)
    n_cells = 4
    sample = train_sample(emb, max(PQ_TRAIN_SAMPLE, n_cells))
    c_fused = train_coarse_centroids(
        emb, n_cells=n_cells, dim=8, sample_rows=sample
    )
    c_plain = train_coarse_centroids(emb, n_cells=n_cells, dim=8)
    assert c_fused.shape == c_plain.shape
    assert np.array_equal(c_fused, c_plain)  # bit-identical, not allclose


def test_fused_sample_codebooks_bit_identical(spark):
    emb = _emb_frame(spark)
    n_cells = 4
    sample = train_sample(emb, max(PQ_TRAIN_SAMPLE, n_cells))
    cent = train_coarse_centroids(emb, n_cells=n_cells, dim=8, sample_rows=sample)
    b_fused = pq_train_codebooks(emb, cent, m=2, sample_rows=sample)
    b_plain = pq_train_codebooks(emb, cent, m=2)
    assert b_fused.shape == b_plain.shape
    assert np.array_equal(b_fused, b_plain)


def test_fused_sample_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    sample = train_sample(empty, 16)
    assert sample == []
    cent = train_coarse_centroids(empty, n_cells=4, dim=8, sample_rows=sample)
    assert cent.shape == (0, 8)
    # and the no-sample path agrees
    assert train_coarse_centroids(empty, n_cells=4, dim=8).shape == (0, 8)


def test_cc_end_test_converges_at_fixpoint(spark):
    """An already-labeled star (all edges to node 0) is final after
    its start labels; the end test must detect it and the labels must
    equal the transitive closure."""
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in D.connected_components(pairs, nodes, id_col="doc_id").collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5}


def test_cc_end_test_chain_semantics(spark):
    """A 5-node chain (diameter 4) needs more than one round; the end
    test must not declare convergence early (every node must reach
    label 10)."""
    ids = [10, 11, 12, 13, 14]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in zip(ids, ids[1:])], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in D.connected_components(pairs, nodes, id_col="doc_id").collect()
    }
    assert out == {i: 10 for i in ids}


def test_dict_maps_union_equals_per_table_collects(spark):
    from gcd_etl_spark.gcd.pipeline import _DICT_TABLES, collect_dict_maps
    from gcd_etl_spark.gcd.schema import GcdSchemaFlags

    tables = {}
    expected = {}
    for i, (name, (key_col, val_col)) in enumerate(_DICT_TABLES.items()):
        rows = [(j, f"{name[-6:]}_{j}") for j in range(3 + i)]
        tables[name] = spark.createDataFrame(
            rows, f"{key_col} int, {val_col} string"
        )
        expected[name] = {
            int(r[0]): r[1]
            for r in tables[name].select(key_col, val_col).collect()
        }
    assert collect_dict_maps(tables) == expected
    # flag-elided table comes back empty without touching its frame
    flags = GcdSchemaFlags(publication_type=False)
    expected_flagged = dict(expected)
    expected_flagged["gcd_series_publication_type"] = {}
    assert collect_dict_maps(tables, flags) == expected_flagged
