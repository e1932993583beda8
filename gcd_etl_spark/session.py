"""SparkSession construction with engine-wide defaults.

Design notes (100 TB posture):

* AQE on — runtime coalescing, skew-join splitting, and join-strategy
  re-planning replace any hand-scheduling the reference did (it had
  none: one thread, one JDBC cursor — reference Main.java:50-94).
* Session timezone pinned to UTC so epoch<->date conversions are
  deterministic and match the DuckDB oracle (the reference mixed
  GMT-06:00 run-date parsing with JVM-default-TZ formatting —
  reference Main.java:59,642 — we deliberately normalize to UTC).
* ANSI stays at the Spark 4 default (ON — corrected round 7; this
  file previously claimed "ANSI off"). The reference's try-cast
  semantics ("parse failure -> null/absent", reference
  Main.java:253-258) are expressed with explicit ``try_cast`` /
  ``try_to_date``-style helpers at every lossy conversion site, so
  the engine is correct under either setting instead of depending on
  the global flag to swallow errors.
* Shuffle partitions default to the local core count; on a real
  cluster this is overridden (AQE coalesces anyway).
* Every engine Python task body (``mapInPandas``, ``mapInArrow``,
  ``applyInPandas``) ends with ``drop_zip_importers()``; see there.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# Rough per-file split target for scans; 128 MiB is the Spark default
# and the right order of magnitude for 100 TB / ~1e6 tasks.
_MAX_PARTITION_BYTES = str(128 * 1024 * 1024)


def drop_zip_importers() -> None:
    """Drop the ``zipimporter`` entries from ``sys.path_importer_cache``.

    Called at the end of an engine Python task body, in the worker.
    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and each cached ``zipimporter`` then re-reads
    its archive's whole directory: the workers' ``PYTHONPATH`` holds
    ``pyspark.zip``, the py4j zip and the spark-core jar, whose packages
    leave 16 such entries behind. On Python 3.11 that costs about
    220 ms of worker CPU per task, however small the task: a one-row
    ``mapInPandas`` task took 270 ms of worker CPU with the entries and
    50 ms without (``local[1]``, 4-vCPU host). The entries are only a
    cache: the next import that needs one builds it again from
    zipimport's own directory cache, without reading the archive.
    """
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "gcd_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a cluster, ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N = SPARK_GRAFT_CPUS or all cores.
    """
    n = default_parallelism()
    if master is None:
        master = f"local[{n}]"
    if shuffle_partitions is None:
        shuffle_partitions = n

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing only ever merges partitions DOWN from the
        # initial number — it cannot split an oversized non-skewed
        # partition — so a core-count shuffle.partitions silently
        # becomes a per-partition MEMORY ceiling once data outgrows
        # the fixture (measured at 128x sf0.1: the flagship ran 309 s
        # with GC allocation stalls at 32 initial partitions, 275 s
        # clean at 256 — BASELINE.md round 11). Start wide and let
        # AQE coalesce to its 64 MB advisory target: at fixture scale
        # it collapses back to core-count partitions (bench-neutral),
        # at amplified scale partitions stay memory-sized. 8x cores
        # keeps the pre-AQE task count trivial for the scheduler.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(8 * n)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", _MAX_PARTITION_BYTES)
        # A small single-file table must still fan out across cores:
        # without a floor on scan splits, a 5 MB parquet file becomes
        # ONE task and every expression downstream of it (shingling,
        # minhash, UDFs) runs single-threaded. At cluster scale the
        # same floor keeps tiny dimension scans from serializing
        # expression-heavy pipelines; 128 MiB splits still govern big
        # inputs.
        .config("spark.sql.files.minPartitionNum", str(n))
        # Reference rotated parquet parts at 2M rows (Main.java:505-509);
        # we honor the same output-file sizing contract declaratively.
        .config("spark.sql.files.maxRecordsPerFile", "2000000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
