"""Table catalog: parquet-first readers for the fixture star schema.

The reference read everything through one MySQL JDBC cursor
(reference Main.java:128-132,245-247). At 100 TB a single cursor is
not a source; the engine's stance is *parquet staging first*: dumps
land as partitioned parquet (see ``gcd_etl_spark.sources.jdbc`` for
the partitioned-JDBC staging path), and every query plan starts from
``spark.read.parquet`` so Catalyst gets pushdown + pruning + split
planning for free.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from collections.abc import Callable, Iterable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

#: Fixture tables generated by the driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table from an sf directory.

    Plain ``spark.read.parquet`` — no schema munging — so filters and
    projections in downstream plans push into the scan
    (check: ``.explain`` shows PushedFilters / ReadSchema).

    ``events`` is normalized to a stable logical schema — ``ts`` a
    (UTC) timestamp plus an exact nanosecond ``ts_ns`` long — by
    dispatching on the PHYSICAL type the fixture was written with.
    The fixture dir is driver-owned and its physical types have
    changed between rounds (TIMESTAMP(NANOS) in r1-r3, timestamp[us]
    now), so assuming one encoding is a latent analysis-time crash:
    branch on what the scan actually reads. A TIMESTAMP(NANOS) file
    reads at all only because ``session.get_spark`` builds the session
    with ``spark.sql.legacy.parquet.nanosAsLong=true``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # Legacy fixtures: TIMESTAMP(NANOS) surfaced as nanos-long.
            return df.select(
                "event_id",
                F.col("ts").alias("ts_ns"),
                # integer div: float division would lose precision at 1e18 ns
                F.expr("timestamp_micros(ts div 1000)").alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        # Current fixtures: parquet timestamp[us] (TIMESTAMP_NTZ in
        # Spark). Session TZ is pinned UTC (session.py), so the cast
        # to TIMESTAMP is instant-exact and matches the DuckDB
        # oracle's naive-as-UTC reading.
        ts = F.col("ts").cast("timestamp")
        return df.select(
            "event_id",
            (F.unix_micros(ts) * F.lit(1000)).alias("ts_ns"),
            ts.alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    return spark.read.parquet(path)


def read_table_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``read_table`` + a parallelism floor for expression-heavy
    consumers (shingling, minhash, vector math).

    A small table often lands in ONE parquet row group, which is
    unsplittable — the scan becomes a single task and everything fused
    above it runs on one core, no matter how many the cluster has.
    When the scan's split count is far below the session parallelism,
    round-robin repartition first: the shuffle moves a few MB once and
    unlocks every core for the expensive expressions. Big inputs
    (many files / row groups) already split past the floor and are
    returned untouched — so this is safe to use unconditionally on
    inputs of unknown size.
    """
    df = read_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL surface.

    This is the engine's equivalent of the reference's Athena external
    table (reference gcdissuesnapshot.sql:1-95): ANSI SQL over
    partition-pruned parquet.
    """
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def table_fingerprint(sf_dir: str, name: str) -> str:
    """8-hex-char fingerprint of a catalog table's INPUT FILES
    (relative path, size, mtime of every data file under
    ``<sf_dir>/<name>.parquet``) — no data scan.

    Every reused staged artifact keys its name on this through
    ``staged_name``: reusing an artifact purely on a basename tag
    silently served a STALE one when the data under the same sf_dir
    changed within a session, or when two different sf_dirs shared a
    basename. A changed/new input now produces a different
    fingerprint, hence a different staging table, hence a rebuild.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    entries: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                fp = os.path.join(root, f)
                st = os.stat(fp)
                entries.append(
                    f"{os.path.relpath(fp, path)}:{st.st_size}:{st.st_mtime_ns}"
                )
    elif os.path.exists(path):
        st = os.stat(path)
        entries.append(f".:{st.st_size}:{st.st_mtime_ns}")
    digest = hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()
    return digest[:8]


# ---------------------------------------------------------- staging
# Scratch tables derived from one sf_dir (bucketed indexes, prior
# snapshots, cycle tables) are named, reused and cleared here and
# nowhere else. The /tmp round-trip dirs take their tag from
# ``sf_tag`` but their paths are still spelled at each site (in
# plans/lakehouse.py, streaming_plans.py, staging.py and corpus.py,
# and streaming/jobs.py for the events replay and the ingest gates).


def sf_tag(sf_dir: str) -> str:
    """Identifier-safe tag of an sf_dir: its basename with every
    non-identifier character replaced (``sf0.001`` -> ``sf0_001``)."""
    return re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(sf_dir.rstrip("/")))


def staged_name(prefix: str, sf_dir: str, *inputs: str) -> str:
    """``<prefix>_<tag>``, plus ``_<fp>`` when input tables are named:
    ``fp`` is their ``table_fingerprint`` (combined into 8 hex chars
    for several inputs), so changed input files, or another sf_dir
    with the same basename, name a different artifact."""
    name = f"{prefix}_{sf_tag(sf_dir)}"
    if not inputs:
        return name
    fp = ",".join(table_fingerprint(sf_dir, t) for t in inputs)
    if len(inputs) > 1:
        fp = hashlib.md5(fp.encode()).hexdigest()[:8]
    return f"{name}_{fp}"


def staged_dir(spark: SparkSession, name: str) -> str:
    """The directory of managed table ``name`` under the session's
    warehouse root."""
    root = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(root, name.lower())


def drop_staged(spark: SparkSession, *names: str) -> None:
    """Drop each table and clear its directory: a directory left by a
    previous session (whose in-memory catalog forgot the table)
    blocks ``saveAsTable``."""
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(staged_dir(spark, name), ignore_errors=True)


def ensure_staged(
    spark: SparkSession, names: Iterable[str], stage: Callable[[], None]
) -> None:
    """Reuse gate: nothing to do when every name is already a catalog
    table; otherwise drop and clear them all, then call ``stage()``,
    which writes them."""
    if all(spark.catalog.tableExists(n) for n in names):
        return
    drop_staged(spark, *names)
    stage()
