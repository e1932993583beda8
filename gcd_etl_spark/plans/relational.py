"""Relational operator coverage (SURVEY.md §2.3, §2.4, §2.5-2.7).

One named query per join/agg/window/setop shape the engine supports,
each with a DuckDB oracle. These double as the bench suite's body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcd_etl_spark.functions.numeric import as_money, exact_avg, exact_sum
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.session import drop_zip_importers
from gcd_etl_spark.sources.catalog import read_table


# ---------------------------------------------------------------- q1
@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))
                * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)    AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan -> filter (pushed to parquet) -> hash agg.

    Partial aggregation happens map-side (HashAggregate x2 around the
    exchange); only |groups| rows shuffle — scale-independent.
    """
    li = read_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    disc_price = as_money("l_extendedprice") * (one - as_money("l_discount"))
    charge = disc_price.cast("decimal(18,4)") * (one + as_money("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------- inner join chain
@query(
    "join_inner_chain",
    oracle="""
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
)
def join_inner_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 shape: fact -> dim -> dim -> dim inner chain.

    nation/region broadcast (no shuffle); the orders⋈customer join is
    the only exchange, keyed on custkey.
    """
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_revenue"),
        )
    )


# ------------------------------------------------- left-outer fanout
@query(
    "join_left_fanout",
    oracle="""
SELECT o.o_orderkey,
       COUNT(l.l_orderkey)               AS n_lines,
       COALESCE(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_qty
FROM orders o
LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey
""",
)
def join_left_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 shape: 1:N left fan-out then re-aggregate; preserves
    zero-child parents (count=0, qty=0)."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, lineitem.l_orderkey == orders.o_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            F.coalesce(exact_sum("l_quantity"), F.lit(0.0)).alias("total_qty"),
        )
    )


# ------------------------------------------------------ semi / anti
@query(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = customer.c_custkey AND o.o_totalprice > 300000)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS) — no fan-out, build side never output."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 300000)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = customer.c_custkey AND o.o_totalprice > 300000)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 300000)
    return customer.join(big, customer.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ------------------------------------------- sort-agg collect_list
@query(
    "agg_collect_list",
    oracle="""
SELECT l_orderkey,
       STRING_AGG(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS part_keys
FROM lineitem
GROUP BY l_orderkey
""",
)
def agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 shape (reference GcdStoryCredit.java:113-137): group ->
    collect_list. Sorted numerically then stringified so the value is
    deterministic regardless of shuffle arrival order."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("l_partkey")), lambda x: x.cast("string")),
            ",",
        ).alias("part_keys")
    )


@query(
    "agg_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ------------------------------------------------------ rollup/cube
@query(
    "agg_rollup",
    oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; NULL group keys coalesced to 'ALL'
    (source columns are non-null, so no ambiguity)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(exact_sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "agg_cube",
    oracle="""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
        )
    )


# --------------------------------------------------------- windows
@query(
    "window_topk_per_group",
    oracle="""
SELECT c_custkey, o_orderkey, rn FROM (
  SELECT c.c_custkey, o.o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
) WHERE rn <= 3
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window; orderkey tie-break keeps
    row_number deterministic."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_custkey", "o_orderkey", "rn")
    )


@query(
    "window_running_sum",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber,
                  l_partkey, l_quantity, l_extendedprice
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
       LAG(l_orderkey) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber,
                  l_partkey, l_quantity, l_extendedprice) AS prev_orderkey
FROM lineitem
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: running sum + lag with a total deterministic
    ordering inside each partition. The tiebreak runs through the
    payload columns too: the synthetic lineitem REUSES
    (l_orderkey, l_linenumber) across rows at larger scales (118k
    duplicate pairs at sf0.1), so the short key is not a total order
    — a tie that also collides on shipdate let the two engines
    assign different-but-both-valid running sums (caught by the
    sf0.1 registry sweep, round 10). With the payload in the key,
    any remaining tie is a fully identical row, and then either
    assignment yields the same output multiset."""
    li = read_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey",
        "l_quantity", "l_extendedprice",
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(as_money("l_quantity"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_qty"),
        F.lag("l_orderkey").over(w).alias("prev_orderkey"),
    )


# ----------------------------------------------------- sort / limit
@query(
    "sort_limit_topk",
    oracle="""
SELECT o_orderkey, o_totalprice AS total_price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K: Spark runs TakeOrderedAndProject — per-partition
    heaps, only K rows reach the driver stage, no global sort."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("o_totalprice").alias("total_price"))
    )


# --------------------------------------------------------- set ops
@query(
    "set_ops",
    oracle="""
WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
UNION ALL
SELECT 'f_only' AS tag, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
UNION ALL
SELECT 'o_only' AS tag, o_custkey FROM (SELECT o_custkey FROM o EXCEPT SELECT o_custkey FROM f)
""",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one tagged result."""
    orders = read_table(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o = orders.where(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f.intersect(o).select(F.lit("both").alias("tag"), "o_custkey")
    f_only = f.exceptAll(o).select(F.lit("f_only").alias("tag"), "o_custkey")
    o_only = o.exceptAll(f).select(F.lit("o_only").alias("tag"), "o_custkey")
    return both.unionByName(f_only).unionByName(o_only)


# ------------------------------------------------------------ pivot
@query(
    "pivot_status",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS qty_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS qty_finished
FROM lineitem
GROUP BY l_returnflag
""",
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with a closed column set — explicit conditional aggs for
    stable schema (SURVEY.md §7.5: prefer fixed columns over pivot())."""
    li = read_table(spark, sf_dir, "lineitem")

    def qty(status: str):
        zero = F.lit(0).cast("decimal(18,2)")
        return F.sum(
            F.when(F.col("l_linestatus") == status, as_money("l_quantity")).otherwise(zero)
        ).cast("double")

    return li.groupBy("l_returnflag").agg(
        qty("O").alias("qty_open"), qty("F").alias("qty_finished")
    )


# --------------------------------------------------- grouping sets
_GROUPING_SETS_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@query("agg_grouping_sets", oracle=_GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() markers — the general
    form rollup/cube specialize (SURVEY.md §2.4 builtin surface);
    identical ANSI text runs on both engines."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_GROUPING_SETS_SQL)


# ------------------------------------------------------ skew salting
@query(
    "skew_salted_join",
    oracle="""
SELECT o.o_orderstatus AS orderstatus,
       COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
         AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-side join (operators/skew.py): the lineitem shuffle
    key is (l_orderkey, salt) so a hot order spreads across buckets;
    orders replicates per salt. The oracle is the PLAIN join — salting
    is a rewrite and must not change a single row."""
    from gcd_etl_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(li, orders, key="o_orderkey", salt_from="l_linenumber", buckets=8)
    return joined.groupBy(F.col("o_orderstatus").alias("orderstatus")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(
                as_money("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - as_money("l_discount"))
            ),
            2,
        ).cast("double").alias("revenue"),
    )


@query(
    "skew_salted_distinct",
    oracle="""
SELECT l_orderkey AS orderkey, COUNT(DISTINCT l_partkey) AS n_distinct
FROM lineitem
GROUP BY l_orderkey
""",
)
def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted distinct count (operators/skew.py): per-key
    distinct state splits across value-salt slices before summing.
    Oracle is the direct COUNT(DISTINCT) — must match exactly."""
    from gcd_etl_spark.operators.skew import salted_distinct_count

    li = read_table(spark, sf_dir, "lineitem")
    out = salted_distinct_count(li, key="l_orderkey", value="l_partkey", buckets=8)
    return out.select(F.col("l_orderkey").alias("orderkey"), "n_distinct")


# ------------------------------------------ bloom-filter join pruning
@query(
    "join_bloom_pruned",
    oracle="""
SELECT o.o_orderpriority AS orderpriority,
       COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
         AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F' AND o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderpriority
""",
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (operators/bloom.py): the
    selective orders subset's key set becomes a ~1%-fp bloom filter
    (built distributedly, shipped as one array literal) that drops
    non-joining lineitem rows INSIDE the scan stage, before the join
    shuffle — the explicit form of AQE's runtime bloom filter, for
    dims too big to broadcast but whose key set fits bloom bits. The
    oracle is the PLAIN join: pruning must not change one row (false
    positives are removed by the join itself)."""
    from gcd_etl_spark.operators.bloom import bloom_semi_reduce

    dim = (
        read_table(spark, sf_dir, "orders")
        .where((F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT"))
        .select("o_orderkey", "o_orderpriority")
    )
    fact = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    pruned = bloom_semi_reduce(fact, dim, "l_orderkey", "o_orderkey", n_bits=1 << 18)
    joined = pruned.join(dim, pruned.l_orderkey == dim.o_orderkey)
    return joined.groupBy(F.col("o_orderpriority").alias("orderpriority")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(
                as_money("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - as_money("l_discount"))
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
    )


# ------------------------------------------- bucketed co-located join
@query(
    "bucketed_colocated_join",
    oracle="""
SELECT o.o_orderkey AS orderkey,
       o.o_orderstatus AS orderstatus,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
""",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + per-key agg over two tables bucketed on the join key
    (sources/sinks.write_bucketed_table): storage layout satisfies the
    join's and the agg's required distribution, so the physical plan
    has ZERO shuffle exchanges (asserted in tests/test_bucketing.py)
    — the co-location discipline that removes the flagship's two big
    exchanges at 100 TB. The oracle is the plain join: bucketing is
    layout, never semantics."""
    import os as _os
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    from gcd_etl_spark.sources.sinks import write_bucketed_table

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    lt, ot = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    warehouse = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def _ensure(name: str, table: str, cols: list[str], key: str) -> None:
        if spark.catalog.tableExists(name):
            return
        # a dir left by a previous session (in-memory catalog forgot
        # the table) blocks saveAsTable — clear it first
        _shutil.rmtree(_os.path.join(warehouse, name.lower()), ignore_errors=True)
        write_bucketed_table(
            read_table(spark, sf_dir, table).select(*cols),
            name,
            [key],
            n_buckets=16,
            sort_cols=[key],
        )

    _ensure(lt, "lineitem", ["l_orderkey", "l_quantity"], "l_orderkey")
    _ensure(ot, "orders", ["o_orderkey", "o_orderstatus"], "o_orderkey")
    li, orders = spark.table(lt), spark.table(ot)
    joined = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey)
    return joined.groupBy(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("orderstatus"),
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        exact_sum("l_quantity").alias("sum_qty"),
    )


# ------------------------------------------------------- as-of join
@query(
    "asof_join_events",
    oracle="""
WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts, MAX(value) AS purchase_value
           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT l.event_id, l.user_id,
       epoch_us(l.ts) // 1000000 AS ts_sec,
       epoch_us(r.ts) // 1000000 AS asof_sec,
       r.purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/asof.py): each click picks up the
    user's most recent purchase at-or-before it — computed as a
    union + per-key sort + last-carry-forward, one shuffle, no range
    explosion. The oracle is DuckDB's NATIVE ASOF JOIN, so the
    hand-built composition is held to the real operator's semantics
    (including ties and no-prior-match nulls)."""
    from gcd_etl_spark.operators.asof import asof_join

    events = read_table(spark, sf_dir, "events")
    left = events.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(left, right, key="user_id", ts="ts")

    def _sec_floor(c: str):
        # exact integer FLOOR of micros→seconds, matching DuckDB `//`
        # even for pre-1970 (negative-epoch) timestamps
        return F.expr(f"(unix_micros({c}) - pmod(unix_micros({c}), 1000000)) div 1000000")

    return out.select(
        "event_id",
        "user_id",
        _sec_floor("ts").alias("ts_sec"),
        _sec_floor("asof_ts").alias("asof_sec"),
        "purchase_value",
    )


# -------------------------------------------------------- range join
@query(
    "range_join_events",
    oracle="""
WITH i AS (SELECT event_id AS interval_id, user_id, ts AS start_ts,
                  ts + INTERVAL 1 HOUR AS end_ts
           FROM events WHERE event_type = 'error'),
     p AS (SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click')
SELECT i.interval_id, p.click_id, i.user_id,
       epoch_us(p.click_ts) // 1000000 AS click_sec
FROM i JOIN p ON i.user_id = p.user_id
               AND p.click_ts BETWEEN i.start_ts AND i.end_ts
""",
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (operators/rangejoin.py): clicks
    within an hour of each error, same user. Executed as a binned
    equi-join on (user, hour-bin) — a plain shuffled join, NOT the
    BroadcastNestedLoopJoin a bare inequality predicate produces. The
    oracle is the naive inequality join, so binning is held to be a
    pure rewrite."""
    from gcd_etl_spark.operators.rangejoin import point_in_interval_join

    events = read_table(spark, sf_dir, "events")
    intervals = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    points = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    out = point_in_interval_join(
        intervals, points, key="user_id", start="start_ts", end="end_ts", ts="click_ts"
    )
    return out.select(
        "interval_id",
        "click_id",
        "user_id",
        F.col("click_ts").cast("long").alias("click_sec"),
    )


# ------------------------------------------------ approx aggregates
@query(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(*) AS n_rows,
       1 AS approx_parts_ok,
       1 AS p50_ok,
       1 AS p95_ok
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates — the 100 TB path where exact
    distinct/percentile state is too big: HLL++ distinct counts and
    GK approximate percentiles, fixed-size state, map-side partials.

    Sketch VALUES are engine-specific (DuckDB's HLL differs), so the
    plan converts them to a cross-engine-checkable form: it computes
    the exact answers in the same pass and emits the exact values plus
    within-error-bound flags (HLL rsd 0.02 -> |err| <= 10% relative;
    GK accuracy 10000 -> percentile within 1 quantity unit of exact).
    The oracle reproduces the exact columns and expects every bound
    flag to hold (literal 1). tests/test_approx.py keeps the tighter
    statistical checks."""
    li = read_table(spark, sf_dir, "lineitem")
    # Scalar columns only: the driver's canonicalizer sorts result
    # columns and an array<double> cell is unhashable there (r01 crash)
    # — split the percentile pair into two doubles.
    pcts = F.percentile_approx("l_quantity", [0.5, 0.95], 10000)
    exact_pcts = F.expr("percentile(l_quantity, array(0.5, 0.95))")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        pcts.getItem(0).alias("qty_p50"),
        pcts.getItem(1).alias("qty_p95"),
        exact_pcts.getItem(0).alias("exact_p50"),
        exact_pcts.getItem(1).alias("exact_p95"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ok = lambda a, e, tol: (F.abs(F.col(a) - F.col(e)) <= tol).cast("int")  # noqa: E731
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "n_rows",
        ok("approx_parts", "exact_parts", 0.10 * F.col("exact_parts")).alias(
            "approx_parts_ok"
        ),
        ok("qty_p50", "exact_p50", F.lit(1.0)).alias("p50_ok"),
        ok("qty_p95", "exact_p95", F.lit(1.0)).alias("p95_ok"),
    )


# ----------------------------------------------------- snapshot diff
@query(
    "snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM orders WHERE o_orderkey % 11 <> 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
              OR o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
""",
)
def snapshot_diff_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot change classification (operators/snapshot_diff):
    two simulated nightly snapshots of orders (some keys absent from
    the old one = added, some from the new one = removed, every 5th
    status mutated = changed), keys + xxhash64 fingerprints joined
    full-outer so the 89-column flagship rows never shuffle. The
    oracle is the direct column-compare FULL OUTER JOIN."""
    from gcd_etl_spark.operators.snapshot_diff import snapshot_diff

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.where(F.col("o_orderkey") % 13 != 0)
    new = orders.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    return snapshot_diff(old, new, key_cols=["o_orderkey"])


@query(
    "snapshot_apply_cdc",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
       o_totalprice
FROM orders WHERE o_orderkey % 11 <> 0
""",
)
def snapshot_apply_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE round trip (operators/snapshot_diff.apply_cdc): classify
    changes between the two simulated snapshots, join the payloads on,
    and APPLY them to the old snapshot — the result must be exactly
    the new snapshot (the oracle), proving diff+apply is lossless.
    Upserts and deletes run as one anti join + union keyed on the
    business key; the full row width never shuffles twice."""
    from gcd_etl_spark.operators.snapshot_diff import apply_cdc, snapshot_diff

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.where(F.col("o_orderkey") % 13 != 0)
    new = orders.where(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, "X").otherwise(F.col("o_orderstatus")),
    )
    diff = snapshot_diff(old, new, key_cols=["o_orderkey"])
    feed = diff.where(F.col("change_type") != "unchanged").join(
        new, on="o_orderkey", how="left"
    )
    return apply_cdc(old, feed, key_cols=["o_orderkey"])


# --------------------------------------------- analytic fn breadth
@query(
    "window_analytics",
    oracle="""
SELECT o_orderkey,
       o_custkey,
       LAG(o_orderkey) OVER w AS prev_order,
       LEAD(o_orderkey) OVER w AS next_order,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
""",
)
def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function surface in one plan: lag/lead neighbors,
    ntile quartiles, percent_rank — all over a single per-customer
    ordered window, so one shuffle serves every function."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


# --------------------------------------- grouped pandas UDAF surface
@query(
    "pandas_grouped_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       median(value) AS median_value,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
""",
)
def pandas_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Arrow-batched Python aggregation (applyInPandas) — the
    UDAF face of SURVEY.md §2.10: each user's events arrive as ONE
    pandas DataFrame, the kernel computes count/median/max with numpy.
    Median is an order statistic ((a+b)/2 of the middle pair — one
    IEEE op), so the Python kernel matches DuckDB's median() EXACTLY,
    no rounding slack: the oracle checks the Arrow round trip
    bit-for-bit. At scale this shuffles once on the group key, same as
    a built-in agg; the kernel sees whole groups, so skewed users
    bound task memory — salt first if a single key outgrows a task."""
    import pandas as pd

    from pyspark.sql import types as T

    events = read_table(spark, sf_dir, "events").select("user_id", "value")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("median_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        drop_zip_importers()
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(v)],
                "median_value": [v.median()],
                "max_value": [v.max()],
            }
        )

    return events.groupBy("user_id").applyInPandas(stats, schema=schema)


# ------------------------------------------------ subquery SQL shapes
_Q18 = """
SELECT c.c_custkey AS custkey,
       o.o_orderkey AS orderkey,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 180
)
GROUP BY c.c_custkey, o.o_orderkey
ORDER BY total_qty DESC, orderkey
LIMIT 50
"""


@query("sql_q18_large_orders", oracle=_Q18)
def sql_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN + grouped HAVING subquery — the uncorrelated
    subquery face of the ANSI surface (Catalyst rewrites it to a
    left-semi join; the HAVING side aggregates before joining, so the
    fact scans twice but never fans out). Identical text runs on both
    engines; decimal-exact quantities."""
    _views_sub(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(_Q18)


_EXISTS = """
SELECT s.s_suppkey AS suppkey, s.s_name AS name
FROM supplier s
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
      AND l.l_quantity > 49
)
ORDER BY suppkey
"""


@query("sql_exists_correlated", oracle=_EXISTS)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (decorrelated by Catalyst into a
    semi join on the correlation key) — same ANSI text on both
    engines."""
    _views_sub(spark, sf_dir, ("supplier", "lineitem"))
    return spark.sql(_EXISTS)


def _views_sub(spark: SparkSession, sf_dir: str, tables) -> None:
    for t in tables:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


@query(
    "agg_mode_per_group",
    oracle="""
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_rows
  FROM orders GROUP BY 1, 2
), r AS (
  SELECT o_orderstatus, o_orderpriority, n_rows,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY n_rows DESC, o_orderpriority) AS rn
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n_rows
FROM r WHERE rn = 1
""",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with a deterministic
    tie-break — built as count + rank rather than an engine-native
    ``mode()`` because native modes leave ties implementation-defined
    (a cross-engine hash mismatch by construction); (count DESC,
    value) is a total order both engines agree on. Two shuffles:
    the (group, value) count (map-side combinable) and the tiny
    per-group rank — the second operates on one row per distinct
    value, not per input row, so it is negligible at any scale."""
    orders = read_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n_rows").desc(), F.col("o_orderpriority").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n_rows",
        )
    )


# ------------------------------------------------ hierarchical rollup
#: Implicit part hierarchy: parent(k) = k div 2, root = 1 — a binary
#: tree over the part keys, ~log2(n) deep at any scale.
TREE_MAX_DEPTH = 40

_TREE_ORACLE = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS node, p_partkey AS anc,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
  UNION ALL
  SELECT node, anc // 2, cents FROM anc WHERE anc > 1
)
SELECT anc AS node_id,
       COUNT(*) AS subtree_size,
       CAST(SUM(cents) AS BIGINT) AS subtree_cents
FROM anc GROUP BY anc
"""


@query("agg_tree_rollup", oracle=_TREE_ORACLE)
def agg_tree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (BOM-style) subtree rollup over the implicit
    part tree parent(k) = k div 2: for every node, the count and
    exact cent-sum of retail prices across its whole subtree.

    Spark has no recursive CTE; the Spark-first move is to invert
    the recursion — every node contributes to exactly its ~log2(n)
    ancestors, which a codegen'd bit-shift sequence enumerates
    per row (transform + filter + explode, no joins at all), then
    ONE groupBy on the ancestor id. O(n·log n) exploded rows, one
    shuffle, zero iterations — where the textbook per-level loop
    would run depth() chained self-joins. The oracle states the
    same closure as DuckDB's recursive CTE, so the inversion is
    held to the real recursive semantics. Cents via round(x*100)
    are exact integers (the stat_corr_exact convention)."""
    part = read_table(spark, sf_dir, "part")
    ancestors = F.array_distinct(
        F.filter(
            F.array(
                *[F.shiftright(F.col("p_partkey"), i) for i in range(TREE_MAX_DEPTH + 1)]
            ),
            # keys are non-negative; key 0 is its own fixed point
            # (parent(0) = 0), matching the oracle's anc > 1 stop
            lambda a: (a >= 1) | (a == F.col("p_partkey")),
        )
    )
    return (
        part.select(
            F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
            F.explode(ancestors).alias("node_id"),
        )
        .groupBy("node_id")
        .agg(
            F.count(F.lit(1)).alias("subtree_size"),
            F.sum("cents").alias("subtree_cents"),
        )
    )


# ------------------------------------------- user feature matrix
#: Closed event-type set (fixture contract, FIXTURES.md).
FEATURE_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_FEATURES_ORACLE = f"""
SELECT user_id,
       {", ".join(
           f"CAST(COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 END), 0) "
           f"AS BIGINT) AS n_{t}" for t in FEATURE_EVENT_TYPES)},
       CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_milli,
       CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
         AS days_active
FROM events
GROUP BY user_id
"""


@query("pivot_user_features", oracle=_FEATURES_ORACLE)
def pivot_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity feature-matrix construction — the feature-store shape
    every model in plans/ml.py consumes: one row per user with
    per-event-type counts (pivot over the CLOSED type set as five
    conditional aggregates — stable schema, no two-pass pivot()
    inference), exact integer engagement value, and distinct active
    days (integer epoch-day floor division).

    ONE map-side-combinable groupBy builds every count feature; the
    distinct-days feature rides the same shuffle (partial distinct
    on (user, day) pairs). The conditional-agg-over-closed-set
    choice is the SURVEY §7.5 credit-pivot discipline applied to
    feature engineering: ``pivot()`` without explicit values scans
    twice and lets new types silently widen the schema downstream.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.floor(F.col("value") * 1000 + 0.5).cast("long").alias("value_milli"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
    )
    return ev.groupBy("user_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, 1)), F.lit(0)
            )
            .cast("long")
            .alias(f"n_{t}")
            for t in FEATURE_EVENT_TYPES
        ],
        F.sum("value_milli").cast("long").alias("value_milli"),
        F.countDistinct("day").cast("long").alias("days_active"),
    )
