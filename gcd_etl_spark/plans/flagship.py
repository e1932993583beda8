"""Flagship query: the denormalized snapshot build.

This is the Spark restatement of the reference's entire reason to
exist — one denormalizing query joining a fact table against its
dimension chain with a 1:N fan-out side, plus the per-field scalar
transforms (reference Main.java:134-216 join tree; 385-503 per-row
transforms), expressed as a single declarative plan:

    orders   ⋈  customer   (J1 shape: fact -> parent dim, INNER)
             ⋈  nation     (J2: dim -> dim, INNER)
             ⟕  region     (J9: tiny dictionary decode, BROADCAST)
             ⟕  lineitem   (J5: the 1:N fan-out side, LEFT)
             ⟕  supplier   (J3: nullable dim, BROADCAST LEFT)

Scalar parity: F3/F4 date->yyyymmdd int, F7 try-cast, F8 int->bool
analog, F13 constant snapshot stamp.

Scale notes: region/nation/supplier are broadcast (no shuffle);
orders⋈customer and the lineitem fan-out shuffle on their join keys
and AQE handles skew. At 100 TB the fan-out join is the dominant
exchange — both sides hash-partition on orderkey, which is exactly
the physical plan a hand-tuned engine would pick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.functions import scalar
from gcd_etl_spark.functions.numeric import as_money
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table

#: F13 analog — fixed snapshot stamp for deterministic comparison.
SNAPSHOT = 20240101


def build_snapshot_denorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    lineitem = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")

    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey, "left")
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey, "left")
        .select(
            F.col("o_orderkey"),
            F.col("l_linenumber").alias("line_no"),
            F.expr(scalar.date_int_from_date("o_orderdate")).alias("order_date_int"),
            F.expr(scalar.try_int("split(o_orderpriority, '-')[0]")).alias("priority_code"),
            (F.col("o_orderstatus") == "O").alias("is_open"),
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.col("s_name").alias("supplier_name"),
            F.col("l_quantity").alias("quantity"),
            # exact decimal product -> double: engine-independent bits
            (as_money("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - as_money("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.lit(SNAPSHOT).alias("snapshot"),
        )
    )


ORACLE = f"""
SELECT o.o_orderkey,
       l.l_linenumber AS line_no,
       CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS order_date_int,
       TRY_CAST(str_split(o.o_orderpriority, '-')[1] AS INT) AS priority_code,
       (o.o_orderstatus = 'O') AS is_open,
       c.c_name AS customer_name,
       n.n_name AS nation_name,
       r.r_name AS region_name,
       s.s_name AS supplier_name,
       l.l_quantity AS quantity,
       CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       {SNAPSHOT} AS snapshot
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""

query("snapshot_denorm", oracle=ORACLE)(build_snapshot_denorm)
