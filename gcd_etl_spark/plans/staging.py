"""Dump-staging plans: prove the mysqldump parser against the oracle.

``dump_roundtrip`` regenerates a mysqldump-format text for two fixture
tables (supplier + nation), re-ingests it through the distributed
INSERT tokenizer (``sources.dump``), joins the parsed tables, and must
hash-match plain SQL over the ORIGINAL parquet — i.e. the staged
bytes are provably identical to the source of truth. This is the
Spark-first replacement for the reference's dump -> MySQL -> JDBC
loop (reference Main.java:128-132,245-247; download.py:76-100).
``dump_datasource_roundtrip`` holds the on-disk form of the same
round trip — one dump file per table in a directory, read through
``stage_dump_table`` — to the same oracle.

Scale note: the text scan is splittable and the tokenizer is
executor-local per line; the only shuffle in this plan is the final
supplier⋈nation broadcast join. Dump synthesis collects the two dim
tables driver-side — test plumbing only; real dumps arrive as files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table, sf_tag
from gcd_etl_spark.sources.dump import (
    format_insert_statements,
    parse_insert_lines,
    stage_dump_table,
)

_SUPPLIER_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)
_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

_ROUNDTRIP_ORACLE = """
SELECT s.s_suppkey AS suppkey,
       s.s_name AS name,
       n.n_name AS nation,
       s.s_acctbal AS acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
ORDER BY suppkey
"""


@query("dump_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def dump_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mysqldump ingest round-trip: parquet -> INSERT text ->
    distributed tokenize -> typed cast -> join; must equal SQL over
    the original tables (exact doubles via repr round-trip)."""
    sup_rows = [tuple(r) for r in read_table(spark, sf_dir, "supplier").collect()]
    nat_rows = [tuple(r) for r in read_table(spark, sf_dir, "nation").collect()]
    lines = format_insert_statements("supplier", sup_rows, 50) + format_insert_statements(
        "nation", nat_rows, 50
    )
    # Mix both tables in one "file", as a real dump would be.
    text = spark.createDataFrame([(ln,) for ln in lines], "value string").repartition(4)
    supplier = parse_insert_lines(text, "supplier", _SUPPLIER_SCHEMA)
    nation = parse_insert_lines(text, "nation", _NATION_SCHEMA)
    return _supplier_nation(supplier, nation)


def _supplier_nation(supplier: DataFrame, nation: DataFrame) -> DataFrame:
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
            F.col("s_acctbal").alias("acctbal"),
        )
        .orderBy("suppkey")
    )


@query("dump_datasource_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def dump_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same ingest round-trip as dump_roundtrip, from dump FILES:
    one ``.sql`` file per table in a directory, as a per-table nightly
    dump arrives, read back through ``stage_dump_table`` (one text
    scan over the whole directory, tokenized executor-side), joined,
    and held to the identical oracle."""
    import os
    import uuid

    sup_rows = [tuple(r) for r in read_table(spark, sf_dir, "supplier").collect()]
    nat_rows = [tuple(r) for r in read_table(spark, sf_dir, "nation").collect()]
    # uuid-suffixed scratch: two concurrent runs over the same sf dir
    # must not clobber each other's dump files.
    tag = sf_tag(sf_dir)
    dump_dir = f"/tmp/gcd_etl_dump_ds_{tag}_{uuid.uuid4().hex[:8]}"
    os.makedirs(dump_dir)
    with open(f"{dump_dir}/supplier.sql", "w", encoding="utf-8") as f:
        f.write("\n".join(format_insert_statements("supplier", sup_rows, 50)) + "\n")
    with open(f"{dump_dir}/nation.sql", "w", encoding="utf-8") as f:
        f.write("\n".join(format_insert_statements("nation", nat_rows, 50)) + "\n")
    supplier = stage_dump_table(spark, dump_dir, "supplier", _SUPPLIER_SCHEMA)
    nation = stage_dump_table(spark, dump_dir, "nation", _NATION_SCHEMA)
    return _supplier_nation(supplier, nation)
