"""Round-7 additions: the link-prediction recall gate (moved out of
the registered plan — round-6 verdict item 2), the capped production
query and the CDC incremental flagship against their oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.plans.analytics import (
    LINKPRED_RECALL_FLOOR_PCT,
    linkpred_recall_stats,
)
from tests.conftest import assert_matches_oracle


# ------------------------- link prediction: capped production path


def test_linkpred_capped_recall_gate(spark, sf_smoke):
    """The exact-anchor recall floor that used to run INSIDE
    graph_link_prediction_pruned on every execution now lives here:
    the capped path must engage the prune AND recover >=
    LINKPRED_RECALL_FLOOR_PCT% of the exact top-K. The registered
    query itself (graph_link_prediction_capped) carries the full
    value-hash oracle of the capped computation and benches at the
    capped cost only."""
    prune_engaged, n_hits, n_anchor = linkpred_recall_stats(spark, sf_smoke)
    assert prune_engaged, "hub cap pruned no center — gate is vacuous"
    assert n_anchor > 0
    assert n_hits * 100 >= LINKPRED_RECALL_FLOOR_PCT * n_anchor, (
        f"capped recall {n_hits}/{n_anchor} below "
        f"{LINKPRED_RECALL_FLOOR_PCT}% floor"
    )


@pytest.mark.parametrize(
    "name",
    [
        "graph_link_prediction_capped",
        "gcd_snapshot_incremental_cdc",
        # code changed this round (fact-side prefilter) — keep a
        # permanent value-hash row here in addition to the rotation
        "gcd_snapshot_incremental_fs",
        "source_schema_evolution",
    ],
)
def test_round7_queries_match_oracle(spark, sf_smoke, name):
    q = QUERIES[name]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=name)


def test_cdc_incremental_carries_and_rebuilds(spark, sf_smoke):
    """The CDC variant must be a genuine split: the watermark bucket
    is non-empty (something rebuilds) AND at least one older bucket
    exists in the prior snapshot (something is carried via partition
    pruning) — the demonstration cannot be vacuous on either side."""
    from gcd_etl_spark.gcd.fixtures_adapter import gcd_tables_from_fixtures
    from gcd_etl_spark.plans.gcd import (
        _cdc_mod_bucket_from_ts,
        _prior_cdc_snapshot_table,
    )

    issue = gcd_tables_from_fixtures(spark, sf_smoke)["gcd_issue"]
    buckets = [
        r["b"]
        for r in issue.select(_cdc_mod_bucket_from_ts(F.col("modified")).alias("b"))
        .distinct()
        .collect()
    ]
    assert len(buckets) >= 2, "need >= 2 modified buckets for a real carry"
    prior = _prior_cdc_snapshot_table(spark, sf_smoke)
    carried = spark.table(prior).where(
        F.col("mod_bucket") < F.lit(max(buckets))
    )
    assert carried.limit(1).count() == 1, "carried partition is empty"


# ------------- xxhash rows-only queries pinned to their md5 twins
#: (rows-only query, value-hash-oracled twin, operator module attr
#: both must route through). The twins carry the oracle burden for
#: the cheaper xxhash production variants; this pin makes it
#: impossible to refactor one's candidate generation without the
#: other (round-6 verdict item 9 / "What's wrong" #4).
#: Since round 10 the xxhash production variants are UNREGISTERED
#: plain builders (round-9 verdict item 3: every registered query
#: carries a value oracle) and the registered name IS the oracled
#: build — the pin direction is unchanged: both members must route
#: through the shared candidate-generation operator.
_TWIN_PAIRS = [
    ("gcd_etl_spark.plans.dedup", "dedup_minhash_lsh_xxhash", "dedup_minhash_lsh",
     "gcd_etl_spark.operators.dedup", "minhash_dedup_pairs"),
    ("gcd_etl_spark.plans.dedup", "dedup_simhash_xxhash", "dedup_simhash",
     "gcd_etl_spark.operators.dedup", "simhash_dedup_pairs"),
    ("gcd_etl_spark.plans.dedup", "dedup_fingerprints_xxhash", "dedup_fingerprints",
     "gcd_etl_spark.operators.dedup", "simhash_table"),
    ("gcd_etl_spark.plans.similarity", "sim_ann_lsh_topk", "sim_ann_lsh",
     "gcd_etl_spark.operators.similarity", "lsh_topk"),
    ("gcd_etl_spark.plans.similarity", "sim_ann_ivf_topk", "sim_ann_ivf",
     "gcd_etl_spark.operators.similarity", "ivf_topk"),
]


class _TwinSentinel(Exception):
    pass


@pytest.mark.parametrize(
    "xx_module,xx_fn,registered,module,attr",
    _TWIN_PAIRS,
    ids=[p[1] for p in _TWIN_PAIRS],
)
def test_xxhash_twin_shares_candidate_generation(
    spark, sf_smoke, monkeypatch, xx_module, xx_fn, registered, module, attr
):
    """Runtime pin, not a source grep: replace the shared operator
    with a raiser and require BOTH the unregistered xxhash production
    builder and the registered oracled query to hit it while building
    their plans. A refactor that reroutes one member silently is a
    hard failure here."""
    import importlib

    mod = importlib.import_module(module)
    assert hasattr(mod, attr)

    def _boom(*a, **k):
        raise _TwinSentinel(attr)

    monkeypatch.setattr(mod, attr, _boom)
    xx_build = getattr(importlib.import_module(xx_module), xx_fn)
    for build in (xx_build, QUERIES[registered].build):
        with pytest.raises(_TwinSentinel):
            build(spark, sf_smoke)


def test_cdc_carry_is_partition_pruned(spark, sf_smoke):
    """The scale claim of the CDC incremental flagship is that the
    carry is a DIRECTORY-pruned scan — assert the physical plan
    carries the mod_bucket partition filter, so a refactor cannot
    silently turn the carry into a full-table scan + filter."""
    import contextlib
    import io

    from gcd_etl_spark.plans.gcd import _prior_cdc_snapshot_table

    prior = _prior_cdc_snapshot_table(spark, sf_smoke)
    df = spark.table(prior).where(F.col("mod_bucket") < F.lit(3))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "mod_bucket" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0], plan


def test_incremental_delta_prefilters_fact_side(spark, sf_smoke):
    """Round-7 sweep fix pin: the incremental delta build must
    restrict story/credit scans to the changed issue set (left-semi
    joins in the plan) — without them, delta cost grows with corpus
    size instead of the changed fraction (measured 2.35 -> 10.02 s
    across an 8x amplification; near-flat after the fix)."""
    import contextlib
    import io

    from gcd_etl_spark.gcd.fixtures_adapter import gcd_tables_from_fixtures
    from gcd_etl_spark.gcd.pipeline import build_snapshot, collect_dict_maps
    from gcd_etl_spark.plans.gcd import RUN_DATE, _restrict_to_issues

    tables = gcd_tables_from_fixtures(spark, sf_smoke)
    changed = _restrict_to_issues(
        tables, tables["gcd_issue"].where(F.col("id") % 10 < 3)
    )
    delta = build_snapshot(
        spark, changed, RUN_DATE, dicts=collect_dict_maps(tables)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        delta.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("LeftSemi") >= 2, plan[:2000]


def test_bucketed_flagship_oracle_and_exchange_drop(spark, sf_smoke):
    """gcd_snapshot_bucketed must (a) hash-match the SAME full-build
    oracle as the regular flagship — bucketing is value-invisible —
    and (b) plan strictly fewer shuffle exchanges (measured 4 -> 1:
    credit groupBy, story-side credit attach, and the issue side of
    the final merge join all become storage-layout properties)."""
    import contextlib
    import io
    import re

    def exchanges(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return len(re.findall(r"\(\d+\) Exchange\b", buf.getvalue()))

    q = QUERIES["gcd_snapshot_bucketed"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke,
                          name="gcd_snapshot_bucketed")
    n_reg = exchanges(QUERIES["gcd_snapshot"].build(spark, sf_smoke))
    n_bkt = exchanges(q.build(spark, sf_smoke))
    assert n_bkt < n_reg, f"bucketed {n_bkt} vs regular {n_reg}"
    assert n_bkt <= 2, f"bucketed flagship plans {n_bkt} exchanges"


@pytest.mark.parametrize("mod,changed", [(7, 2), (10, 3), (13, 5)])
def test_restrict_to_issues_split_is_lossless(spark, sf_smoke, mod, changed):
    """Property: for ANY issue partition predicate, delta + carried
    through _restrict_to_issues reproduces the full build exactly
    (row counts per issue match; the full differential equality is
    carried by the oracled incremental queries — this pins the
    split algebra itself across other predicates)."""
    from gcd_etl_spark.gcd.fixtures_adapter import gcd_tables_from_fixtures
    from gcd_etl_spark.gcd.pipeline import build_snapshot, collect_dict_maps
    from gcd_etl_spark.plans.gcd import RUN_DATE, _restrict_to_issues

    tables = gcd_tables_from_fixtures(spark, sf_smoke)
    dicts = collect_dict_maps(tables)
    pred = F.col("id") % mod < changed
    delta = build_snapshot(
        spark,
        _restrict_to_issues(tables, tables["gcd_issue"].where(pred)),
        RUN_DATE,
        dicts=dicts,
    )
    carried = build_snapshot(
        spark,
        _restrict_to_issues(tables, tables["gcd_issue"].where(~pred)),
        RUN_DATE,
        dicts=dicts,
    )
    full = build_snapshot(spark, tables, RUN_DATE, dicts=dicts)
    union_counts = (
        delta.unionByName(carried).groupBy("issue_id").count().collect()
    )
    full_counts = full.groupBy("issue_id").count().collect()
    assert sorted((r["issue_id"], r["count"]) for r in union_counts) == sorted(
        (r["issue_id"], r["count"]) for r in full_counts
    )


def test_cdc_buckets_partition_all_modified_values(spark):
    """Round-7 review finding: rows with NULL or pre-epoch `modified`
    must land in exactly one side of the CDC split. The ts-side
    bucket (changed predicate) and the int-side bucket computed from
    the pipeline's yyyymmdd/-1 output (carry predicate) must agree
    that such rows are carried, never silently dropped by a
    NULL-valued comparison."""
    from gcd_etl_spark.plans.gcd import (
        _CDC_INVALID_BUCKET,
        _cdc_mod_bucket_from_int,
        _cdc_mod_bucket_from_ts,
    )

    rows = [
        (1, "2010-06-01 12:00:00"),  # normal
        (2, "1996-01-01 00:00:00"),  # normal, early
        (3, None),                   # NULL modified
        (4, "1960-05-05 00:00:00"),  # pre-epoch -> pipeline writes -1
        (5, "1980-01-01 00:00:00"),  # 1970..1995 -> negative bucket
    ]
    df = spark.createDataFrame(rows, "id long, m string").select(
        "id", F.col("m").cast("timestamp").alias("modified")
    )
    # the pipeline's output int: yyyymmdd when unix_ts>0 else -1
    out_int = F.when(
        F.unix_timestamp("modified") > 0,
        (
            F.year("modified") * 10000
            + F.month("modified") * 100
            + F.dayofmonth("modified")
        ).cast("int"),
    ).otherwise(F.lit(-1))
    got = df.select(
        "id",
        _cdc_mod_bucket_from_ts(F.col("modified")).alias("ts_bucket"),
        _cdc_mod_bucket_from_int(out_int).alias("int_bucket"),
    ).collect()
    by_id = {r["id"]: r for r in got}
    # invalid rows collapse to the sentinel on BOTH sides
    for bad in (3, 4):
        assert by_id[bad]["ts_bucket"] == _CDC_INVALID_BUCKET
        assert by_id[bad]["int_bucket"] == _CDC_INVALID_BUCKET
    # valid rows (incl. the negative 1980 bucket) agree across sides
    for ok in (1, 2, 5):
        assert by_id[ok]["ts_bucket"] == by_id[ok]["int_bucket"]
        assert by_id[ok]["ts_bucket"] is not None
    assert by_id[5]["ts_bucket"] < 0  # genuinely negative, not sentinel
    assert by_id[5]["ts_bucket"] > _CDC_INVALID_BUCKET
    # partition property: with any real watermark w, every row is in
    # exactly one of (ts_bucket == w) / (int_bucket < w)
    w = max(r["ts_bucket"] for r in got)
    for r in got:
        changed = r["ts_bucket"] == w
        carried = r["int_bucket"] < w
        assert changed != carried, r


# ------------------------------- empty-input robustness (100 TB ops)
#: Family representatives: a nightly pipeline sees empty partitions
#: and empty days; every one of these must plan and execute on
#: 0-row inputs without raising (aggregate-summary shapes may emit
#: their constant rows with zero counts — that is correct).
_EMPTY_OK = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "q1_pricing_summary",
    "agg_rollup",
    "win_session",
    "sort_limit_topk",
    "join_inner_chain",
    "text_token_stats",
    "gcd_snapshot",
    "sim_bruteforce_topk",
    "events_funnel",
    "text_lang_id",
    "agg_histogram",
    "graph_triangles",
    "asof_join_nearest",
    "window_topk_per_group",
    "text_tfidf_topk",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark):
    import tempfile

    d = tempfile.mkdtemp(prefix="gcd_empty_")
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet").limit(
            0
        ).write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    return d


@pytest.mark.parametrize("name", _EMPTY_OK)
def test_empty_input_does_not_raise(spark, empty_sf_dir, name):
    rows = QUERIES[name].build(spark, empty_sf_dir).limit(5).collect()
    assert isinstance(rows, list)
