"""Global physical-plan audit: no registered query may plan a
BroadcastNestedLoopJoin or CartesianProduct unless it is one of the
explicitly-intended quadratic correctness anchors. This is the
repo-wide guard against a refactor silently turning a bucketed/binned
join back into an O(n^2) scan — the class of regression that passes
every value check at sf0.01 and then dies at 100 TB."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from gcd_etl_spark.plans import QUERIES

#: Quadratic BY DESIGN — small-input exact baselines the sub-quadratic
#: operators are validated against (plus their shared-derivation
#: composites). Everything else must stay off nested loops.
QUADRATIC_ANCHORS = {
    "sim_bruteforce_topk",  # exact top-k baseline (broadcast q x corpus)
    "sim_ann_lsh",  # embeds the exact baseline as recall denominator
    "sim_ann_ivf",  # embeds the exact baseline as recall denominator
    "sim_ann_ivfpq_recall",  # embeds the exact baseline as recall denominator
    "sim_ann_ivfpq_persisted",  # same recall denominator, persisted index
    "sim_ann_ivfpq_index_append",  # same recall denominator, appended index
    "sim_ann_ivfsq8_recall",  # embeds the exact baseline as recall denominator
    "sim_ann_ivfsq8_persisted",  # same recall denominator, persisted index
    "dedup_ngram_jaccard",  # all-pairs Jaccard ground truth
    "dedup_clusters",  # built on the ngram_jaccard pair derivation
    "corpus_curation",  # composite that reuses the anchor pair stage
    # broadcast eval split x training corpus: THE exact-baseline shape
    # (sim_bruteforce_topk with labels); ANN paths are the scale
    # variants, ml_nearest_centroid the |labels|-cost variant
    "ml_knn_confusion",
    # guarded exact-scoring bitext anchor (refuses >10M pairs), and
    # the shortlist form which embeds the anchor as its in-plan
    # recall-gate denominator (the sim_ann_* recall precedent)
    "sim_bitext_margin",
    "sim_bitext_margin_shortlist",
    "sim_bitext_margin_persisted",
}

#: Single-ROW broadcast attachments (corpus stats, global bounds):
#: the build side is exactly one row, so the "nested loop" is O(n) by
#: construction — the correct plan, not an accident. Distinct from
#: QUADRATIC_ANCHORS, whose build sides grow with the data.
SCALAR_BROADCASTS = {
    "text_bm25_topk",  # one corpus-stats row (N, avgdl, per-term df)
    "text_tfidf_topk",  # one corpus-size row (N) broadcast into scoring
    "graph_triangles",  # two single-row count aggregates joined into the 1-row result
    "dq_drift_psi",  # one (n_ref, n_cur) totals row broadcast across 12 bucket rows
    "stat_corr_exact",  # pure aggregate, no join — listed for symmetry if refactored
    "assoc_pairs_lift",  # one n_orders row broadcast into the pair scorecard
    "ml_naive_bayes_confusion",  # 1-row V/N totals + the closed |langs| prior table
    "rank_fusion_rrf",  # ONE query-vector row broadcast into the dot-product leg
    "events_pmi_cooccurrence",  # 1-row session count + closed |types| marginals
    "events_rfm_segments",  # 1-row global ref_day broadcast into recency
    "corpus_boilerplate_ngrams",  # 1-row corpus count into the DF threshold
    "text_pmi_collocations",  # 1-row token total broadcast into PMI scoring
    "stat_ks_two_sample",  # 1-row (n1, n2) totals broadcast into the CDF gaps
    # 1-row (n_nodes, total_deg) broadcast into the double hub-cap
    # predicate; the wedge joins themselves are key-equi (node)
    "graph_link_prediction_capped",
    # OR-membership join of the K-row signatures against the constant
    # |types|^2 pair table (10 rows) — bounded by the closed type set,
    # never by data volume; the only data-scaled shuffle is the
    # distinct + bottom-k signature build
    "audience_overlap_minhash",
    "quality_unigram_nll",  # one (total_tokens, vocab) row broadcast into the vocab costs
    "quality_bigram_nll",  # same 1-row vocab total, bigram-conditional costs
    # 1-row unknown-context cost (ln V) broadcast into the frozen-LM
    # fallback ladder; the cost/context probes are key-equi joins
    "quality_bigram_nll_delta",
    "sample_temperature_mix",  # 1-row (wsum, n_total) quota denominator
    # 1-row max(doc_id) + the 10-row decile cutoff frame (bounded by
    # HEAPS_POINTS, never by data volume) range-joined into the
    # doc-sized/vocab-sized summaries — the audience_overlap pattern
    "stat_heaps_fit",
    "sample_negatives_hash",  # 1-row id-space bound into the draw modulus
    # the BITEXT_GATE_SAMPLE(=64)-row sampled anchor broadcast over
    # ONE target scan — bounded by the sample constant, never by data
    # volume (O(sample x |B|), the round-12 scale-runnable gate); the
    # data-scaled candidate join keys on the cell
    "sim_bitext_margin_mined",
    # 1-row corpus count broadcast into the occupancy-cap threshold;
    # the occupancy frame it lands on is <= T x 2^bits = 512 rows by
    # construction and every data-scaled join is key-equi
    "dedup_semantic_srp_capped",
    # 1-row (nt, nr) feature totals broadcast into the <= 512-row
    # hashed-bucket frame (the quality_*_nll vocab-totals pattern);
    # the data-scaled joins are the key-equi bucket probes
    "corpus_dsir_weights",
    # same pattern at the nightly boundary: the frozen model's 1-row
    # default-llr fallback crossJoined into the delta feature stream
    "corpus_dsir_delta",
}

#: Streaming queries execute eagerly on build (memory-sink round
#: trip); their returned plan is a trivial scan of the sink.
_SKIP = {name for name in QUERIES if name.startswith("stream_")}


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_AUDITED = sorted(n for n in QUERIES if n not in _SKIP)


@pytest.fixture(scope="module")
def built() -> dict:
    """Builds handed from the nested-loop audit to the lambda audit, so
    the suite builds each query once; the lambda audit pops its entry."""
    return {}


@pytest.mark.parametrize("name", _AUDITED, ids=str)
def test_no_accidental_nested_loop(spark, sf_smoke, built, name):
    df = built[name] = QUERIES[name].build(spark, sf_smoke)
    plan = _formatted_plan(df)
    quadratic = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    if name in QUADRATIC_ANCHORS or name in SCALAR_BROADCASTS:
        return  # quadratic by design, or a 1-row broadcast (O(n))
    assert not quadratic, f"{name} plans a nested-loop/cartesian join:\n{plan}"


# ------------------- row-invariant work inside a lambda
# A lambda body re-evaluates every outer expression it references once
# per ELEMENT, and the optimizer inlines a projected column into the
# lambda that reads it. A tokenizer that a per-shingle lambda slices
# re-split each document once per shingle (~42x per benchmark
# document); the fix is to bind the per-row value once
# (functions/text.py, "Bind once"). This audit fails any costly
# subexpression in a lambda body that uses none of that lambda's
# variables, read from the optimized plan's
# ``lambdafunction(<body>, lambda <v>#<id>, ..., <hidden>)``.

_CALL = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\(")
#: Regex, split and hash functions; any call taking a lambda (a
#: higher-order function) counts as costly too.
_COSTLY = re.compile(
    r"regexp\w*|rlike|split|md5|sha1|sha2|xxhash64|hash|crc32", re.IGNORECASE
)
_LAMBDA_TAIL = re.compile(r"((?:, lambda [^\s,()]+#\d+\w*)+), (?:true|false)$")


def _close(s: str, i: int) -> int:
    """Index of the parenthesis closing the one at ``s[i]``."""
    depth = 0
    for j in range(i, len(s)):
        depth += {"(": 1, ")": -1}.get(s[j], 0)
        if depth == 0:
            return j
    raise ValueError(f"unbalanced parentheses after {s[i:i + 80]!r}")


def _row_invariant_lambda_work(plan: str) -> set[str]:
    """Costly calls inside a lambda body that read none of its variables."""
    found = set()
    for m in re.finditer(r"lambdafunction\(", plan):
        inner = plan[m.end() : _close(plan, m.end() - 1)]
        tail = _LAMBDA_TAIL.search(inner)
        assert tail, f"unparsed lambda: ...{inner[-200:]}"
        body = inner[: tail.start()]
        own = [re.escape(v) for v in re.findall(r"lambda (\S+)", tail.group(1))]
        uses_own = re.compile(rf"lambda (?:{'|'.join(own)})\b")
        for c in _CALL.finditer(body):
            call = body[c.start() : _close(body, c.end() - 1) + 1]
            costly = _COSTLY.fullmatch(c.group(1)) or (
                c.group(1) != "lambdafunction" and "lambdafunction(" in call
            )
            if costly and not uses_own.search(call):
                found.add(call)
    return found


@pytest.mark.parametrize("name", _AUDITED, ids=str)
def test_no_row_invariant_work_in_lambda(spark, sf_smoke, built, name):
    df = built.pop(name, None)
    if df is None:
        df = QUERIES[name].build(spark, sf_smoke)
    # Unbounded field count: the default truncates projections past 25.
    plan = df._jdf.queryExecution().optimizedPlan().treeString(True, False, 10**6, False, False)
    found = _row_invariant_lambda_work(plan)
    assert not found, (
        f"{name} re-evaluates row-invariant work per lambda element; bind it "
        "once outside the lambda:\n" + "\n".join(sorted(found)[:5])
    )


# ------------------- streaming STAGING subplans (round-13 item 3)
# Streaming queries execute eagerly, so the generic audit above skips
# them — which let a data-sized global-sort funnel hide in replay
# STAGING for two rounds (stream_sessions_timeout's
# ntile(2) OVER (ORDER BY ts, event_id) ran the whole events table
# through one Exchange SinglePartition before any micro-batch ran).
# These close that class mechanically: the staging subplans are
# audited like batch plans, and the module source itself may not
# contain an unpartitioned window function.


def _data_sized_single_partition(plan: str) -> bool:
    """True when an Exchange SinglePartition feeds a Sort or Window —
    the whole input through one partition. Scalar aggregates also
    plan SinglePartition exchanges, but those move only map-side-
    reduced partials (parent = HashAggregate/SortAggregate) and are
    the correct plan for a global statistic."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange" not in ln or "SinglePartition" not in ln:
            continue
        depth = ln.index("+-") if "+-" in ln else 0
        for j in range(i - 1, -1, -1):
            pd = lines[j].index("+-") if "+-" in lines[j] else 0
            if pd < depth or j == 0:
                if "Sort" in lines[j] or "Window" in lines[j]:
                    return True
                break
    return False


def test_sessions_replay_staging_has_no_global_sort_funnel(spark, sf_smoke):
    import pyspark.sql.functions as F

    from gcd_etl_spark.plans.streaming_plans import _time_ordered_banded
    from gcd_etl_spark.sources.catalog import read_table

    events = read_table(spark, sf_smoke, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    banded, _hi = _time_ordered_banded(events)
    halves = [banded.where(F.col("_rb") == i) for i in (1, 2)]
    for half in halves:
        plan = _formatted_plan(half)
        assert "Window" not in plan, plan
        assert not _data_sized_single_partition(plan), plan


def test_streaming_module_has_no_unpartitioned_window():
    """Source-level closure: replay staging lives inline in the
    streaming plan functions, so any future global-ordered window
    (ntile / row_number over an unpartitioned ORDER BY) in this
    module is the same funnel reintroduced. Partitioned windows
    would import Window and call partitionBy; the module needs
    neither today."""
    import inspect

    import gcd_etl_spark.plans.streaming_plans as sp

    src = inspect.getsource(sp)
    assert "ntile(" not in src
    assert "Window.orderBy" not in src
