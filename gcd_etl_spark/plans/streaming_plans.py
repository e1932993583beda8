"""Structured Streaming parity as hash-checked queries.

The streaming jobs (streaming/jobs.py) run the SAME algebra as the
batch operators; these plans prove it under the driver's oracle:
stage a table to a parquet directory, replay it one file per
micro-batch, and hash-compare converged state against the batch
restatement. Every query here runs through the one harness in
streaming/jobs.py — its file-source reader, its memory-sink runner,
its ``availableNow`` drain and its ingest-gate runner
(``run_ingest_gate``/``gate_sink``); this module holds only staging,
per-batch scoring and oracles. Families (rounds 3-12): windowed
aggregations (tumbling / sliding / sessions / stateful totals),
streaming dedup, and the INGEST GATES — each persisted-artifact
lifecycle's per-micro-batch twin probing the same staged index as its
nightly delta query (MinHash bands, SRP buckets fixed-width anchor +
occupancy-CAPPED production form, frozen bigram-LM costs, frozen DSIR
model): index setup plus one ``run_ingest_gate`` call. A streaming
pipeline whose converged answer equals the batch answer is the
Spark-first statement of batch/stream unification.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.operators import dedup as D
from gcd_etl_spark.plans.dedup import DELTA_MOD
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table, read_table_spread, sf_tag
from gcd_etl_spark.streaming.jobs import (
    _stage_events,
    run_ingest_gate,
    run_streaming_apply_cdc,
    run_streaming_dedup,
    run_streaming_interval_join,
    run_streaming_late_drop,
    run_streaming_sessions,
    run_streaming_sliding,
    run_streaming_to_parquet,
    run_streaming_tumbling,
)
from gcd_etl_spark.streaming.stateful import run_streaming_stateful_totals


@query(
    "stream_tumbling",
    oracle="""
SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling counts computed BY THE STREAMING ENGINE
    (file-source micro-batches, watermarked state store, memory sink),
    hash-matched against the batch oracle."""
    staged, tag = _stage_events(spark, sf_dir)
    return run_streaming_tumbling(spark, staged, name=f"stream_tumbling_{tag}")


@query(
    "stream_stateful_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       MAX(value) AS max_value,
       MAX(epoch_us(ts) // 1000000) AS last_event_sec
FROM events
GROUP BY user_id
""",
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals computed by a CUSTOM stateful operator
    (``applyInPandasWithState``: Arrow-fed python fold over a per-key
    state store, streaming/stateful.py), converged over file-source
    micro-batches and hash-matched against the batch GROUP BY. The
    tracked stats (count, max, last-seen) are associative and
    FP-exact, so stream/batch equality is exact, not approximate."""
    staged, tag = _stage_events(spark, sf_dir)
    return run_streaming_stateful_totals(spark, staged, name=f"stream_stateful_{tag}")


@query(
    "stream_sessions",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
                   >= 600000000
              OR LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), g AS (
  SELECT user_id, us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM e
)
SELECT user_id,
       MIN(us) // 1000000 AS session_start_sec,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, sess
""",
)
def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed BY THE STREAMING ENGINE (merging
    session state store over file-source micro-batches), hash-matched
    against the batch gaps-and-islands SQL. The staged files are not
    time-ordered, so the watermark spans the whole event range —
    correct for the bounded-parity contract; a live deployment sets it
    to its real lateness bound."""
    staged, tag = _stage_events(spark, sf_dir)
    return run_streaming_sessions(
        spark, staged, watermark="100000 hours", name=f"stream_sessions_{tag}"
    )


@query(
    "stream_dedup",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup computed BY THE STREAMING ENGINE: dropDuplicates
    over the event stream's state store (first arrival per
    (user_id, event_type) wins, later duplicates dropped per
    micro-batch), append sink. The converged set must equal the batch
    SELECT DISTINCT — dedup is the one operator whose stream/batch
    parity is set-equality, independent of arrival order."""
    staged, tag = _stage_events(spark, sf_dir)
    return run_streaming_dedup(spark, staged, name=f"stream_dedup_{tag}")


@query(
    "stream_sliding",
    oracle="""
WITH e AS (SELECT epoch_us(ts) // 1000000 AS sec FROM events),
     x AS (
  SELECT (sec // 1800) * 1800 - k * 1800 AS window_start
  FROM e CROSS JOIN (SELECT UNNEST([0, 1]) AS k)
  WHERE sec >= (sec // 1800) * 1800 - k * 1800
    AND sec < (sec // 1800) * 1800 - k * 1800 + 3600
)
SELECT window_start, COUNT(*) AS n_events
FROM x GROUP BY 1
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes computed BY THE
    STREAMING ENGINE (one open aggregate per overlapping window in the
    state store), hash-matched against the batch window-expansion SQL
    — the same oracle the batch win_sliding plan uses."""
    staged, tag = _stage_events(spark, sf_dir)
    return run_streaming_sliding(
        spark, staged, watermark="100000 hours", name=f"stream_sliding_{tag}"
    )


#: Timeline split for the late-data demonstration (events span
#: 2024-01; recent half first => high watermark, older half late).
LATE_SPLIT_US = 1_705_363_200_000_000  # 2024-01-16T00:00:00Z

_LATE_DROP_ORACLE = f"""
WITH recent AS (
  SELECT ts, event_type FROM events
  WHERE epoch_us(ts) >= {LATE_SPLIT_US}
),
m AS (SELECT MAX(epoch_us(ts)) AS mx FROM recent),
w AS (
  SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
         event_type, COUNT(*) AS n_events
  FROM recent GROUP BY 1, 2
)
SELECT window_start, event_type, n_events
FROM w CROSS JOIN m
WHERE (window_start + 3600) * 1000000 <= mx - 3600000000
"""


@query("stream_late_drop", oracle=_LATE_DROP_ORACLE)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics under the differential gate: the
    older half of the timeline is replayed AFTER the recent half, so
    every one of its rows is beyond the watermark when it arrives and
    must be dropped; append mode emits exactly the finalized windows.
    The oracle restates the whole rule in batch SQL: hourly windows
    over the recent half only, kept when window_end <= max(recent) -
    1h (the final watermark). Deterministic because file-source
    micro-batches replay in file order (one file per trigger,
    oldest first) — the batch boundary, and therefore the watermark
    trajectory, is pinned by construction."""
    import glob
    import time as _time

    tag = sf_tag(sf_dir)
    staged = f"/tmp/gcd_etl_stream_late_{tag}"
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cut = F.unix_micros("ts") >= LATE_SPLIT_US
    # THREE single-file batches, replayed oldest-mtime-first: two
    # recent-half files, then the older half. The recent batches
    # drive the watermark to max(recent) - delay; the old rows must
    # arrive in batch THREE because the engine's late-record filter
    # uses a one-batch-LAGGED watermark (measured: old rows arriving
    # in batch 2 pass the filter against the still-initial watermark,
    # aggregate, and are immediately evicted-and-EMITTED by the
    # post-batch eviction — the exact trap this staging avoids).
    # Explicit far-apart mtimes pin the replay order; a same-second
    # write can otherwise collapse files into one micro-batch.
    batches = [
        events.where(cut & (F.col("user_id") % 7 != 0)),
        events.where(cut & (F.col("user_id") % 7 == 0)),
        events.where(~cut),
    ]
    seen: list[str] = []
    groups: list[list[str]] = []
    for i, b in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        b.coalesce(1).write.mode(mode).parquet(staged)
        now_files = sorted(glob.glob(f"{staged}/part-*.parquet"))
        groups.append([p for p in now_files if p not in seen])
        seen = now_files
    now = _time.time()
    for i, grp in enumerate(groups):
        for p in grp:
            os.utime(p, (now - 300 + i * 120, now - 300 + i * 120))
    return run_streaming_late_drop(spark, staged, name=f"stream_late_drop_{tag}")


@query(
    "stream_stream_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join computed BY THE STREAMING ENGINE:
    the click stream joined to the purchase stream (same user,
    purchase within 10 minutes after the click), both sides
    watermarked event-time streams replayed from file-source
    micro-batches, append sink. The converged pair set must equal
    the batch interval join — which is the oracle. Exact integer
    lag_us rides along so the match TIMING, not just the pair ids,
    is value-hashed."""
    staged, tag = _stage_events(spark, sf_dir)
    return run_streaming_interval_join(spark, staged, name=f"stream_ssjoin_{tag}")


@query(
    "stream_sink_parquet",
    oracle="""
SELECT event_id, user_id, event_type, value,
       CAST(epoch_us(ts) AS BIGINT) AS us,
       strftime(ts, '%Y-%m-%d') AS event_date
FROM events
""",
)
def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S5 partitioned-parquet sink contract under Structured
    Streaming (reference Main.java:96-105 re-expressed as a
    streaming write): the event stream lands in a date-partitioned
    parquet table through the checkpointed file sink (exactly-once
    commit log, availableNow drain), and what was COMMITTED is read
    back and value-hashed against the batch table — proving the
    sink wrote exactly the input, once, with the partition column
    derived correctly. Output dirs are wiped with their checkpoint
    per build (a stale checkpoint with fresh dirs would no-op the
    stream)."""
    staged, tag = _stage_events(spark, sf_dir)
    out = f"/tmp/gcd_etl_stream_sink_out_{tag}"
    ckpt = f"/tmp/gcd_etl_stream_sink_ckpt_{tag}"
    for d in (out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    committed = run_streaming_to_parquet(spark, staged, out, ckpt)
    return committed.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
        F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
    )


@query(
    "stream_apply_cdc",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id, value, event_type FROM events
),
r AS (
  SELECT user_id, us, value, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY us DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_updates
  FROM e
)
SELECT user_id, n_updates, us AS last_us, value AS last_value,
       event_type AS last_event_type
FROM r WHERE rn = 1
""",
)
def stream_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert maintenance BY THE STREAMING ENGINE: micro-batches
    fold into a versioned per-user state table through a per-batch
    writer (count adds, last-writer-wins struct max on the (ts,
    event_id) total order), and the converged state must equal the batch
    last-per-key restatement — batch-boundary- and order-independent
    because the merge is a commutative monoid."""
    staged, tag = _stage_events(spark, sf_dir)
    return run_streaming_apply_cdc(
        spark, staged, f"/tmp/gcd_etl_stream_cdc_state_{tag}", name=f"stream_cdc_{tag}"
    )


# --------------------- stateful sessions with event-time expiry
def _time_ordered_banded(events: DataFrame):
    """Replay staging split: a band column ``_rb`` (1 = at-or-below
    the median timestamp, 2 = above) from ONE scalar aggregate —
    every band-2 event is strictly newer than every band-1 event, so
    no event can be late-dropped, and sessions spanning the boundary
    prove cross-batch state carry. Returns (banded_frame, max_ts_us).

    Round-13 verdict item 3: the previous global-sort 2-tile split
    OVER (ORDER BY ts, event_id) ran the whole events table through a data-sized
    Exchange SinglePartition — the exact funnel the plan audit
    forbids in batch plans; a scalar-agg median funnels only reduced
    partials (audited by tests/test_plan_audit.py's streaming-staging
    rule). The cap keeps batch 2 non-empty when more than half the
    events share the max timestamp; a degenerate all-one-timestamp
    corpus degrades to an empty first batch (no band-1 rows), whose
    0-row micro-batch cannot change the converged state."""
    hi, med = events.agg(
        F.max(F.unix_micros("ts")),
        F.percentile_approx(F.unix_micros("ts"), 0.5, 10000),
    ).collect()[0]
    med = min(med, hi - 1)
    banded = events.withColumn(
        "_rb", F.when(F.unix_micros("ts") <= F.lit(med), F.lit(1)).otherwise(F.lit(2))
    )
    return banded, hi


_SESS_TIMEOUT_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
),
s AS (
  SELECT user_id, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 86400000000 THEN 1 ELSE 0 END AS brk
  FROM e
),
g AS (
  SELECT user_id, us,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) AS session_end_us,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, sid
"""


@query("stream_sessions_timeout", oracle=_SESS_TIMEOUT_ORACLE)
def stream_sessions_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME EXPIRY — the
    one stateful-API feature the NoTimeout operators can't exercise:
    per-user gap sessions accumulate in the state store, close either
    when a later event exceeds the 24 h gap (in-update) or when the
    watermark passes last_event + gap with no newer data
    (``GroupStateTimeout.EventTimeTimeout`` → ``state.hasTimedOut``
    flush — emit-on-expiry). Events replay as two time-ordered
    single-file micro-batches (enough to prove cross-batch state
    carry; batch count is a fixed per-batch state-store cost), then
    TWO far-future sentinel batches
    (user_id −1/−2, filtered from the output): the first advances the
    watermark past every real session's expiry, and the second exists
    because timeouts fire against a one-batch-LAGGED watermark (the
    same trap stream_late_drop documents) — with it, every real
    session is expired-and-emitted by stream end, so the oracle is
    the complete batch gap-sessionization of the events table. At
    100 TB this is how per-entity session state stays bounded: the
    store holds only OPEN sessions, expiry is driven by event time,
    and emission is exactly-once per session."""
    import glob
    import time as _time

    from gcd_etl_spark.streaming.stateful import (
        SESSION_GAP_US,
        run_streaming_sessions_timeout,
    )

    tag = sf_tag(sf_dir)
    staged = f"/tmp/gcd_etl_stream_sesstw_{tag}"
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    banded, hi = _time_ordered_banded(events)
    # JVM-native 1-row frame (round 13): a local-data createDataFrame
    # parallelizes the row into defaultParallelism PICKLED PYTHON
    # partitions, and the staging coalesce(1) then evaluates all of
    # them SEQUENTIALLY through one task's Python-worker round-trips —
    # measured ~4 s PER SENTINEL WRITE at local[32] (~8 s of this
    # row's 15 s wall) vs ~0.3 s for the identical rows built from
    # spark.range(1) + literals, which never leave the JVM (guide §4:
    # eliminate the Python boundary — here it was hiding in staging).
    sent = lambda uid, us, rb: spark.range(1).select(
        F.lit(int(uid)).cast("long").alias("event_id"),
        F.timestamp_micros(F.lit(int(us))).alias("ts"),
        F.lit(int(uid)).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(int(rb)).alias("_rb"),
    )
    # Single-pass staging (round 13 opt): ONE job writes all four
    # replay files via partitionBy("_rb") — previously four
    # SEQUENTIAL jobs, the two half writes each collapsing a full
    # events scan + filter into one coalesce(1) task (guide §1.2:
    # the same rows were read twice and written through two
    # single-threaded funnels). repartition on _rb yields exactly one
    # file per band; the files are then flattened into the staged dir
    # so the file-source replay (one file per trigger, mtime order)
    # is unchanged. An empty band (degenerate corpus) writes no file:
    # its 0-row micro-batch carried no state anyway.
    n_batches = 4
    all_banded = (
        banded.select("event_id", "ts", "user_id", "event_type", "value", "_rb")
        .unionAll(sent(-1, hi + 3 * SESSION_GAP_US, 3))
        .unionAll(sent(-2, hi + 6 * SESSION_GAP_US, 4))
    )
    all_banded.repartition(n_batches, "_rb").write.partitionBy("_rb").mode(
        "overwrite"
    ).parquet(staged)
    now = _time.time()
    for i in range(1, n_batches + 1):
        # Suffix j guards the (off-by-default) case of >1 file per
        # band, e.g. a global maxRecordsPerFile; same-mtime files
        # within a band replay in either order, which the banded
        # split makes irrelevant (no cross-band reorder possible).
        for j, p in enumerate(sorted(glob.glob(f"{staged}/_rb={i}/part-*.parquet"))):
            dst = f"{staged}/replay-{i}-{j}{os.path.splitext(p)[1]}"
            os.rename(p, dst)
            os.utime(dst, (now - 600 + i * 60, now - 600 + i * 60))
        shutil.rmtree(f"{staged}/_rb={i}", ignore_errors=True)
    return run_streaming_sessions_timeout(
        spark, staged, name=f"stream_sess_timeout_{tag}"
    )


# --------------------- streaming dedup against the persisted corpus
def delta_dedup_score(docs: DataFrame, idx: DataFrame):
    """The streaming dedup gate's per-batch scorer, shared by the
    registered stream plan and the kill-and-restart test
    (tests/test_round10.py) so the replay semantics under test are
    the production code path, not a re-implementation: band the batch
    (only the batch), broadcast its bands against the persisted
    bucketed corpus index, exact-Jaccard verify.

    The verify's delta side shingles only the BATCH instead of the
    whole docs table (every id_a is a batch id). The corpus side is
    pruned: the batch's candidate pairs are
    materialized ONCE (tiny localCheckpoint; also dedupes the
    candidate subtree between its two consumers) and the corpus side
    is LEFT-SEMI pruned to the candidate ids BEFORE the shingle
    projection, so per-batch corpus-side work is O(candidates), not
    O(corpus) feature compute, at every corpus size. Value-identical:
    the verify equi-join on id_b already discards every non-candidate
    corpus row; the semi join removes them earlier (guide §3.2)."""
    def score(batch: DataFrame) -> DataFrame:
        bands = D.minhash_band_table(batch, portable=True).select(
            F.col("_id").alias("delta_id"), "band_idx", "band_hash"
        )
        cand = (
            F.broadcast(bands)
            .join(idx, ["band_idx", "band_hash"])
            .select(
                F.col("delta_id").alias("id_a"), F.col("corpus_id").alias("id_b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        sets_b = D.shingle_sets(
            docs.join(
                F.broadcast(cand.select(F.col("id_b").alias("doc_id")).distinct()),
                "doc_id",
                "left_semi",
            )
        )
        verified = D.jaccard_pairs(
            docs,
            cand,
            threshold=0.5,
            sets_a=D.shingle_sets(batch),
            sets_b=sets_b,
        )
        return verified.select(
            F.col("id_a").alias("delta_id"),
            F.col("id_b").alias("corpus_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )

    return score


def _stream_delta_dedup_oracle() -> str:
    from gcd_etl_spark.plans.dedup import _delta_vs_corpus_oracle

    return _delta_vs_corpus_oracle()


@query("stream_dedup_against_corpus", oracle=_stream_delta_dedup_oracle())
def stream_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of dedup_delta_vs_corpus: new documents
    arrive as file-source micro-batches and each batch is near-dedup
    checked against the PERSISTED corpus LSH band index inside
    each micro-batch — band the batch (only the batch), broadcast its
    band rows against the bucketed index table, exact-Jaccard verify
    the candidates. This is the ingest-gate a 100 TB corpus actually
    runs: per-arrival cost is O(batch) + one index probe and the
    corpus is never re-shingled; the oracle IS the batch query's
    oracle, value-hash exact.

    Delta-internal duplicates are out of scope exactly as in the
    nightly form (the self-join path handles those); the index is
    shared via ensure_corpus_band_index so stream and nightly can
    never index differently."""
    from gcd_etl_spark.plans.dedup import ensure_corpus_band_index

    docs = read_table_spread(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    idx = ensure_corpus_band_index(spark, sf_dir, docs.where(~is_delta))
    return run_ingest_gate(
        spark,
        sf_dir,
        "deltadedup",
        docs.where(is_delta),
        delta_dedup_score(docs, idx),
        "delta_id long, corpus_id long, jaccard double",
    )


# ----------------- streaming SEMANTIC dedup gate (SemDeDup at ingest)
_SEMANTIC_GATE_DDL = "delta_id long, corpus_id long, dot long, cos_ppm long"


def _srp_pruned_corpus_quant(spark, sf_dir: str, cand: DataFrame):
    """(candidate-checkpointed cand, corpus quant frame pruned to the
    candidate ids) — the semantic gates' form of the round-14 semi-join
    prune: materialize the batch's tiny candidate set once, LEFT-SEMI
    filter the embeddings scan to candidate corpus ids BEFORE the SRP
    quantization (the per-batch Arrow matmul stops being O(corpus)).
    Value-identical: the verify equi-join on corpus_id already drops
    every non-candidate row."""
    from gcd_etl_spark.plans.dedup import _srp_quant_frame

    cand = cand.localCheckpoint(eager=True)
    q_b = _srp_quant_frame(
        read_table_spread(spark, sf_dir, "embeddings").join(
            F.broadcast(
                cand.select(F.col("corpus_id").alias("vec_id")).distinct()
            ),
            "vec_id",
            "left_semi",
        )
    )
    return cand, q_b


def semantic_gate_score(spark, sf_dir: str, idx: DataFrame):
    """Per-batch scorer of the semantic ingest gate, shared with
    tests: SRP-bucket the batch's embeddings (one Arrow matmul over
    O(batch) rows), broadcast its (t, bk) rows against the persisted
    corpus bucket index, exact-integer-dot verify.

    The verify's delta side quantizes only the BATCH instead of the
    whole embeddings table (every delta_id is a batch id), and the
    corpus-side quant frame is semi-join pruned to the batch's
    candidate ids (see delta_dedup_score / _srp_pruned_corpus_quant)."""
    from gcd_etl_spark.plans.dedup import (
        SRP_BITS,
        SRP_TABLES,
        _srp_bucket_frame,
        _srp_quant_frame,
        _srp_verify_delta,
    )

    def score(batch: DataFrame) -> DataFrame:
        delta_tb = _srp_bucket_frame(batch, SRP_BITS, SRP_TABLES).select(
            F.col("vec_id").alias("delta_id"), F.posexplode("bks").alias("t", "bk")
        )
        cand = (
            idx.join(F.broadcast(delta_tb), ["t", "bk"])
            .select("delta_id", "corpus_id")
            .dropDuplicates(["delta_id", "corpus_id"])
        )
        cand, q_b = _srp_pruned_corpus_quant(spark, sf_dir, cand)
        return _srp_verify_delta(
            spark, sf_dir, cand, q_a=_srp_quant_frame(batch), q_b=q_b
        )

    return score


def _semantic_gate_oracle() -> str:
    from gcd_etl_spark.plans.dedup import _srp_delta_oracle

    return _srp_delta_oracle()


@query("stream_semantic_dedup_gate", oracle=_semantic_gate_oracle())
def stream_semantic_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of dedup_semantic_delta_vs_corpus — SemDeDup
    as an ingest gate: newly-embedded documents arrive as file-source
    micro-batches and each batch is checked for semantic near-dups
    (cosine >= 0.40, portable SRP family) against the PERSISTED corpus
    bucket index per micro-batch. Per-arrival cost is O(batch) +
    one index probe; the corpus is never re-projected through the
    hyperplanes; the oracle IS the nightly query's oracle, value-hash
    exact including the rounded cos_ppm.

    ANCHOR CONFIGURATION (round 12): fixed-width UNCAPPED index —
    kept as the value-oracled anchor, NOT the production gate (exp
    1.35 at 32x). Production + lifecycle bench:
    stream_semantic_dedup_gate_capped."""
    from gcd_etl_spark.plans.dedup import ensure_srp_bucket_index

    emb = read_table_spread(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % DELTA_MOD == 0
    idx = ensure_srp_bucket_index(spark, sf_dir, emb.where(~is_delta))
    return run_ingest_gate(
        spark,
        sf_dir,
        "semgate",
        emb.where(is_delta),
        semantic_gate_score(spark, sf_dir, idx),
        _SEMANTIC_GATE_DDL,
    )


def semantic_gate_score_capped(spark, sf_dir: str, idx: DataFrame):
    """Per-batch scorer of the CAPPED semantic ingest gate: as
    semantic_gate_score, but candidates come from the probe-both-keys
    step shared with the nightly capped delta query
    (dedup._srp_capped_probe_cands), so the gate and the nightly
    boundary can never probe the capped index differently."""
    from gcd_etl_spark.plans.dedup import (
        _srp_capped_probe_cands,
        _srp_quant_frame,
        _srp_verify_delta,
    )

    def score(batch: DataFrame) -> DataFrame:
        cand, q_b = _srp_pruned_corpus_quant(
            spark, sf_dir, _srp_capped_probe_cands(idx, batch)
        )
        return _srp_verify_delta(
            spark, sf_dir, cand, q_a=_srp_quant_frame(batch), q_b=q_b
        )

    return score


def _semantic_gate_capped_oracle() -> str:
    from gcd_etl_spark.plans.dedup import _srp_capped_delta_oracle

    return _srp_capped_delta_oracle()


@query("stream_semantic_dedup_gate_capped", oracle=_semantic_gate_capped_oracle())
def stream_semantic_dedup_gate_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of dedup_semantic_delta_vs_corpus_capped —
    the PRODUCTION SemDeDup ingest gate: micro-batches of newly-
    embedded documents are checked against the occupancy-CAPPED
    persisted corpus bucket index (the round-11 32x audit's fix for
    the fixed-width gate's exp-1.35 candidate blowup; measured
    185 s -> 49 s at 32x). Per-arrival cost is O(batch) + one
    bucketed index probe per candidate key; heavy buckets contribute
    only the sub-bucket sharing all wide bits, so a sign-space
    cluster in the corpus cannot flood a batch's candidate set.
    The oracle IS the capped nightly query's oracle, value-hash
    exact. The fixed-width gate (stream_semantic_dedup_gate) stays
    registered as the explicitly-labeled anchor; this is the
    lifecycle-benched default."""
    from gcd_etl_spark.plans.dedup import ensure_srp_bucket_index

    emb = read_table_spread(spark, sf_dir, "embeddings")
    is_delta = F.col("vec_id") % DELTA_MOD == 0
    idx = ensure_srp_bucket_index(spark, sf_dir, emb.where(~is_delta), capped=True)
    return run_ingest_gate(
        spark,
        sf_dir,
        "semgate_cap",
        emb.where(is_delta),
        semantic_gate_score_capped(spark, sf_dir, idx),
        _SEMANTIC_GATE_DDL,
    )


# ------------------- streaming QUALITY gate (frozen LM at ingest)
def _quality_gate_oracle() -> str:
    from gcd_etl_spark.plans.corpus import _bigram_delta_oracle

    return _bigram_delta_oracle()


@query("stream_quality_gate", oracle=_quality_gate_oracle())
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of quality_bigram_nll_delta — the frozen-LM
    perplexity filter as an ingest gate, completing the gate symmetry
    across the three lifecycle families (MinHash bands, SRP buckets,
    and now the LM cost tables each have a nightly delta query AND a
    streaming ingest gate probing the SAME persisted artifact).
    New documents arrive as file-source micro-batches; each batch is
    tokenized and scored against the staged cost tables by
    corpus.score_docs_frozen_bigram_lm, the exact code the nightly
    delta query runs — the corpus is never re-counted, per-arrival
    cost is O(batch) + broadcast probes. The oracle IS the nightly
    query's oracle, value-hash exact including the integer NLL
    ladder."""
    from gcd_etl_spark.plans.corpus import (
        ensure_bigram_lm_index,
        score_docs_frozen_bigram_lm,
    )

    docs = read_table_spread(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    costs, ctx_all = ensure_bigram_lm_index(spark, sf_dir, docs.where(~is_delta))
    return run_ingest_gate(
        spark,
        sf_dir,
        "qgate",
        docs.where(is_delta),
        lambda b: score_docs_frozen_bigram_lm(b, costs, ctx_all),
        "doc_id long, n_bigrams long, n_unseen long, "
        "nll_total_micro long, nll_mean_micro long",
    )


# ------------------- streaming DSIR gate (frozen model at ingest)
def _dsir_gate_oracle() -> str:
    from gcd_etl_spark.plans.corpus import _dsir_delta_oracle

    return _dsir_delta_oracle()


@query("stream_dsir_gate", oracle=_dsir_gate_oracle())
def stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING form of corpus_dsir_delta — DSIR importance
    weighting as an ingest gate, extending the gate symmetry to the
    family's fourth lifecycle (MinHash bands, SRP buckets, LM cost
    tables, and now the DSIR bucket-LLR model each have a nightly
    delta query AND a streaming ingest gate probing the SAME
    persisted artifact). New documents arrive as file-source
    micro-batches; each batch is hashed and weighed against the
    frozen <= 513-row model by corpus.score_docs_frozen_dsir, the
    exact code the nightly delta query runs — the corpus is never
    re-featurized, per-arrival cost is O(batch) + one broadcast
    probe. The oracle IS the nightly query's oracle, value-hash exact
    including the default-row fallback and the integer micro-LLRs."""
    from gcd_etl_spark.plans.corpus import (
        DSIR_STANDING_TAG,
        ensure_dsir_model,
        score_docs_frozen_dsir,
    )

    docs = read_table_spread(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    model = ensure_dsir_model(
        spark, sf_dir, docs.where(~is_delta), filter_tag=DSIR_STANDING_TAG
    )
    return run_ingest_gate(
        spark,
        sf_dir,
        "dsirgate",
        docs.where(is_delta),
        lambda b: score_docs_frozen_dsir(b, model),
        "doc_id long, n_feats long, n_unseen long, "
        "llr_total_micro long, llr_mean_micro long, selected boolean",
    )
