"""Round-6 additions: connected components in logarithmic rounds,
and regression pins for the round-5 HUGEINT oracle fixes.

The components tests began as pins of a large-star/small-star
operator; they now hold the one ``connected_components`` operator
(hook-and-jump rounds) to the same contract and to a union-find model.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from gcd_etl_spark.operators.dedup import connected_components
from gcd_etl_spark.plans import QUERIES
from tests.conftest import assert_matches_oracle


# ------------------------------------------------ connected components


def _pairs_df(spark, pairs):
    return spark.createDataFrame(list(pairs), "id_a long, id_b long")


def _union_find_labels(ids, pairs):
    """Pure-Python ground truth: min-member label per component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _labels(spark, pairs, ids, **kw):
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = connected_components(_pairs_df(spark, pairs), nodes, id_col="doc_id", **kw).collect()
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows), "one row per distinct id"
    return got


def test_star_cc_empty_edge_set(spark):
    got = _labels(spark, [], range(1, 6))
    assert got == {i: i for i in range(1, 6)}


def test_star_cc_round_count_beats_diameter(spark):
    """A diameter-40 chain must converge in far fewer than 40 rounds.
    max_iter=8 makes one-hop-per-round propagation fail."""
    got = _labels(spark, [(i, i + 1) for i in range(1, 41)], range(1, 42), max_iter=8)
    assert set(got.values()) == {1}


def test_cc_permuted_chain_converges_in_log_rounds(spark):
    """A 10,000-node chain with randomly permuted ids converges within
    2 * ceil(log2 n) = 28 rounds. Propagation without a parent hook
    needs one round per unit of diameter (or, with pointer jumping
    alone, still far more than 28 rounds on permuted ids)."""
    n = 10_000
    ids = list(range(1, n + 1))
    random.Random(7).shuffle(ids)
    got = _labels(spark, zip(ids, ids[1:]), ids, max_iter=28)
    assert len(got) == n and set(got.values()) == {1}


def test_star_cc_matches_union_find_on_many_random_graphs(spark):
    """Property sweep against an independent union-find model: one
    Spark run per topology class — dense blob, two chains,
    bipartite-ish stripes, self-loop-heavy."""
    random.seed(23)
    topologies = {
        "blob": [(random.randint(1, 40), random.randint(1, 40)) for _ in range(120)],
        "chains": [(i, i + 1) for i in range(1, 30)]
        + [(i, i + 1) for i in range(50, 75)],
        "stripes": [(i, i + 40) for i in range(1, 40, 2)],
        "loopy": [(i, i) for i in range(1, 20)]
        + [(random.randint(1, 30), random.randint(1, 30)) for _ in range(25)],
    }
    ids = range(1, 91)
    for name, pairs in topologies.items():
        assert _labels(spark, pairs, ids) == _union_find_labels(ids, pairs), name


@st.composite
def _graphs(draw):
    """(node ids with repeats, pairs over those ids): isolated nodes,
    self-pairs and duplicate pairs all occur; ids are unsorted and
    sparse, so the component minimum sits anywhere on a path."""
    ids = draw(st.lists(st.integers(-(10**12), 10**12), min_size=1, max_size=40, unique=True))
    node = st.sampled_from(ids)
    pairs = draw(st.lists(st.tuples(node, node), max_size=60))
    repeats = draw(st.lists(node, max_size=5))
    return ids + repeats, pairs


#: A 40-node path over permuted ids (17 is a unit mod 41): diameter
#: 39, past the default max_iter of 25 for one-hop-per-round labels.
_PERMUTED_PATH = [i * 17 % 41 for i in range(1, 41)]


@settings(max_examples=5, deadline=None)
@given(_graphs())
@example(([1, 2, 3, 4, 5, 2, 2], [(1, 1), (2, 3), (3, 2), (2, 3), (5, 4)]))
@example((_PERMUTED_PATH, list(zip(_PERMUTED_PATH, _PERMUTED_PATH[1:]))))
def test_cc_matches_union_find_property(spark, graph):
    ids, pairs = graph
    assert _labels(spark, pairs, ids) == _union_find_labels(set(ids), pairs)


# --------------------------- HUGEINT oracle regression pins (r5)
#: The five round-5 driver reds + the two latent instances the judge
#: found — each oracle had one column DuckDB widened to HUGEINT. The
#: typed comparator (conftest._assert_hash_kinds_compatible) now
#: fails on widening, so re-running these against their oracles IS
#: the regression test.
_R5_HUGEINT_FIXED = [
    "tokenizer_apply_bpe",
    "quality_unigram_nll",
    "audience_overlap_minhash",
    "events_markov_transitions",
    "agg_tree_rollup",
    "events_rfm_segments",
    "pack_token_budget",
]


@pytest.mark.parametrize("name", _R5_HUGEINT_FIXED)
def test_r5_hugeint_fixes(spark, sf_smoke, name):
    q = QUERIES[name]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=name)


# ------------------- floor-division advice item: pre-1970 regression


def test_asof_tolerance_floors_pre_epoch_seconds(spark):
    """ADVICE r4/r5 low item, closed with a pin: the tolerance math
    floors micros→seconds (pmod subtraction). For a right row at
    us=-2_500_000, floor gives second -3 (DuckDB's epoch_us // 1e6);
    a truncating cast would give -2 and wrongly keep the match at
    tolerance=2."""
    from gcd_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 0)], "k int, us long"
    ).select("k", F.timestamp_micros(F.col("us")).alias("ts"))
    right = spark.createDataFrame(
        [(1, -2_500_000, "old")], "k int, us long, tag string"
    ).select("k", F.timestamp_micros(F.col("us")).alias("ts"), "tag")
    out = asof_join(left, right, key="k", ts="ts", tolerance_sec=2).collect()
    assert len(out) == 1 and out[0]["tag"] is None  # 0 - (-3) = 3 > 2
    # at tolerance 3 the same match is kept — the boundary is exact
    out3 = asof_join(left, right, key="k", ts="ts", tolerance_sec=3).collect()
    assert out3[0]["tag"] == "old"
