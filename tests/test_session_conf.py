"""No package call changes the SQL conf of the session it is given.

``session.get_spark`` sets session conf once, when it builds the
session. A call that needs another value uses a per-operation setting
or a child session of its own, so what one call sets is never seen by
a later query, or by another thread planning a query meanwhile."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.sources import sinks
from gcd_etl_spark.sources.catalog import drop_staged


def test_compact_bucketed_table_leaves_caller_conf(spark, monkeypatch):
    """The rewrite's bucketed-scan setting stays in its own child
    session: while the write runs, the caller's session still reads
    the default, and the result still holds one file per bucket."""
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    seen = []
    write = sinks.write_bucketed_table

    def recording_write(*args, **kwargs):
        seen.append(spark.conf.get(key))
        write(*args, **kwargs)

    src, n_buckets = "conf_compact_src", 4
    drop_staged(spark, src)
    for _ in range(2):
        sinks.write_bucketed_table(
            spark.range(200).repartition(3), src, ["id"], n_buckets, mode="append"
        )
    assert sinks.count_table_data_files(spark, src) > n_buckets
    monkeypatch.setattr(sinks, "write_bucketed_table", recording_write)
    try:
        dest = sinks.compact_bucketed_table(spark, src, ["id"], n_buckets)
        assert seen == ["true"]
        assert sinks.count_table_data_files(spark, dest) == n_buckets
        assert spark.table(dest).count() == 400
    finally:
        drop_staged(spark, src, f"{src}_compact")


def test_udtf_token_runs_leaves_session_arrow_conf(spark, sf_smoke):
    """Arrow execution is chosen on the UDTF itself: the session that
    builds the query keeps its ``pythonUDTF.arrow.enabled`` value, and
    the plan still runs the UDTF through Arrow."""
    key = "spark.sql.execution.pythonUDTF.arrow.enabled"
    child = spark.newSession()
    before = child.conf.get(key)
    df = QUERIES["udtf_token_runs"].build(child, sf_smoke)
    assert df.count() > 0
    assert child.conf.get(key) == before == "false"
    assert "ArrowEvalPythonUDTF" in df._jdf.queryExecution().executedPlan().toString()


def test_nanos_parquet_reads_in_fresh_session(spark, tmp_path):
    """A TIMESTAMP(NANOS) parquet file reads, as a long of
    nanoseconds, in a session where no ``events`` read ran first: the
    setting comes from how the session was built, not from an earlier
    call."""
    path = str(tmp_path / "nanos.parquet")
    ns = [1_700_000_000_123_456_789, 0]
    pq.write_table(
        pa.table({"ts": pa.array(ns, type=pa.timestamp("ns"))}),
        path,
        coerce_timestamps=None,
        allow_truncated_timestamps=False,
    )
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    df = spark.newSession().read.parquet(path)
    assert isinstance(df.schema["ts"].dataType, T.LongType)
    assert sorted(r.ts for r in df.collect()) == sorted(ns)
