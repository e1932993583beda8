"""Structured Streaming smoke: the streaming window jobs must produce
exactly the batch operators' answers when fed the same bounded data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcd_etl_spark.operators import windows as W
from gcd_etl_spark.sources.catalog import read_table
from gcd_etl_spark.streaming import run_streaming_sessions, run_streaming_tumbling


@pytest.fixture(scope="module")
def staged_events(spark, sf_smoke, tmp_path_factory):
    """Stage the events table (micro-truncated ts) as a stream source
    dir with several files so maxFilesPerTrigger drives >1 batch."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    events = read_table(spark, sf_smoke, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    events.repartition(4).write.mode("overwrite").parquet(out)
    return out


def test_streaming_tumbling_equals_batch(spark, sf_smoke, staged_events):
    stream_out = run_streaming_tumbling(spark, staged_events, name="t_tumble")
    batch = (
        read_table(spark, sf_smoke, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("long").alias("window_start"), "event_type", "n_events")
    )
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_streaming_sessions_equals_batch(spark, sf_smoke, staged_events):
    # staged files are not time-ordered, so the watermark must cover
    # the whole event span or out-of-order batches would split
    # sessions; watermark *eviction* semantics are Spark's own.
    stream_out = run_streaming_sessions(spark, staged_events, watermark="900 hours", name="t_sess")
    batch = (
        read_table(spark, sf_smoke, "events")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").cast("long").alias("session_start_sec"), "n_events")
    )
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_windows_batch_shapes(spark, sf_smoke):
    events = read_table(spark, sf_smoke, "events")
    n = events.count()
    tum = W.tumbling_agg(events)
    assert tum.agg(F.sum("n_events")).first()[0] == n
    sli = W.sliding_agg(events)
    assert sli.agg(F.sum("n_events")).first()[0] == 2 * n  # each event in 2 windows
    ses = W.session_agg(events)
    assert ses.agg(F.sum("n_events")).first()[0] == n


def test_streaming_stateful_totals_equals_batch(spark, sf_smoke, staged_events):
    from gcd_etl_spark.streaming import run_streaming_stateful_totals

    stream_out = run_streaming_stateful_totals(spark, staged_events, name="t_stateful")
    batch = (
        read_table(spark, sf_smoke, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
            F.max(F.col("ts").cast("long")).alias("last_event_sec"),
        )
    )
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_streaming_parquet_sink_equals_batch(spark, sf_smoke, staged_events, tmp_path):
    from gcd_etl_spark.streaming.jobs import run_streaming_to_parquet

    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")
    written = run_streaming_to_parquet(spark, staged_events, out, ckpt)
    batch = read_table(spark, sf_smoke, "events")
    assert written.count() == batch.count()
    # partition layout is date-hive dirs, and values round-trip
    assert written.where(F.col("event_date").isNull()).count() == 0
    got = written.agg(F.sum("value"), F.count_distinct("user_id")).first()
    want = batch.agg(F.sum("value"), F.count_distinct("user_id")).first()
    assert abs(got[0] - want[0]) < 1e-6 and got[1] == want[1]


def test_stream_late_drop_matches_oracle(spark, sf_smoke):
    """Watermark late-data semantics: the replayed-late half of the
    timeline is dropped; append mode holds exactly the finalized
    windows (oracle restates the rule in batch SQL)."""
    from gcd_etl_spark.plans import QUERIES
    from tests.conftest import assert_matches_oracle

    q = QUERIES["stream_late_drop"]
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_stream_late_drop_excludes_old_windows(spark, sf_smoke):
    """No emitted window may start before the timeline split — the
    direct statement that the late half was dropped, independent of
    the oracle."""
    from gcd_etl_spark.plans import QUERIES
    from gcd_etl_spark.plans.streaming_plans import LATE_SPLIT_US

    rows = QUERIES["stream_late_drop"].build(spark, sf_smoke).collect()
    assert rows
    assert min(r["window_start"] for r in rows) >= LATE_SPLIT_US // 1_000_000


def test_one_streaming_harness_in_package():
    """Only ``streaming/jobs.py`` opens a stream source, runs a memory
    sink or installs a foreachBatch writer: every other module goes
    through its harness."""
    import ast
    from pathlib import Path

    import gcd_etl_spark

    root = Path(gcd_etl_spark.__file__).parent
    harness = root / "streaming" / "jobs.py"
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == harness:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{path.relative_to(root)}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Attribute) and node.attr in (
                "readStream",
                "foreachBatch",
                "processAllAvailable",
            ):
                found.append(f"{where} uses {node.attr}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format"
                and any(
                    isinstance(a, ast.Constant) and a.value == "memory" for a in node.args
                )
            ):
                found.append(f"{where} runs a memory sink")
    assert not found, "\n".join(found)


def test_events_stream_input_staged_once_per_input(spark, sf_smoke):
    """The events-table streaming queries share one staged events
    table per input: the first build writes it, a second query reads
    the same files instead of writing its own copy."""
    import os

    from gcd_etl_spark.plans import QUERIES
    from gcd_etl_spark.sources.catalog import drop_staged, staged_dir, staged_name

    name = staged_name("stream_events", sf_smoke, "events")
    drop_staged(spark, name)
    QUERIES["stream_tumbling"].build(spark, sf_smoke).collect()
    assert spark.catalog.tableExists(name)
    d = staged_dir(spark, name)
    files = {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}
    assert QUERIES["stream_dedup"].build(spark, sf_smoke).collect()
    assert {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)} == files
