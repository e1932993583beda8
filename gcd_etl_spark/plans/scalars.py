"""Scalar-function coverage (SURVEY.md §2.8 F1-F9, P4/P5).

Each query exercises one scalar-library function on fixture columns
with an exact DuckDB oracle restating the semantics independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.functions import scalar
from gcd_etl_spark.plans.registry import query
from gcd_etl_spark.sources.catalog import read_table

#: Literal dictionary for F9/J9 decode (matches the fixture region
#: table; key 99 exercises the map-miss -> null path).
REGION_DICT = {0: "AFRICA", 1: "AMERICA", 2: "ASIA", 3: "EUROPE", 4: "MIDDLE EAST"}


@query(
    "scalar_dates",
    oracle="""
SELECT o_orderkey,
       CAST(strftime(o_orderdate, '%Y%m%d') AS INT)      AS order_date_int,
       CAST(strftime(o_orderdate, '%Y%m%d') AS INT)      AS epoch_date_int,
       CASE WHEN regexp_matches(CAST(o_orderdate AS DATE)::VARCHAR, '^\\d{4}-\\d{2}-\\d{2}')
            THEN CAST(replace(substr(CAST(o_orderdate AS DATE)::VARCHAR, 1, 10), '-', '') AS INT)
            ELSE -1 END                                  AS parsed_date_int
FROM orders
""",
)
def scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 (string date -> yyyymmdd int), F4 (epoch -> yyyymmdd int),
    and the typed-date variant, all agreeing on the same rows.

    F4 goes through real epoch seconds (``unix_timestamp``) exactly as
    the reference consumed ``UNIX_TIMESTAMP(created)``
    (reference Main.java:152-153,637-650), pinned to UTC.
    """
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.expr(scalar.date_int_from_date("o_orderdate")).alias("order_date_int"),
        F.expr(scalar.epoch_to_date_int("unix_timestamp(o_orderdate)")).alias("epoch_date_int"),
        F.expr(scalar.date_str_to_int("date_format(o_orderdate, 'yyyy-MM-dd')")).alias(
            "parsed_date_int"
        ),
    )


@query(
    "scalar_try_cast",
    oracle="""
SELECT o_orderkey,
       TRY_CAST(str_split(o_orderpriority, '-')[1] AS INT) AS priority_code,
       TRY_CAST(o_orderstatus AS INT)                      AS bogus_int,
       (o_orderstatus = 'O')                               AS is_open
FROM orders
""",
)
def scalar_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 try-cast (parse-or-null, reference Main.java:253-258) on a
    parsable prefix and an unparsable column; F8 int->bool analog."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.expr(scalar.try_int("split(o_orderpriority, '-')[0]")).alias("priority_code"),
        F.expr(scalar.try_int("o_orderstatus")).alias("bogus_int"),
        (F.col("o_orderstatus") == "O").alias("is_open"),
    )


@query(
    "scalar_multi_split",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_returnflag || '|' || l_linestatus AS parts,
       2::INT AS n_parts
FROM lineitem
""",
)
def scalar_multi_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 multi-value split (reference Main.java:535-547): build a
    semicolon list with stray spacing and a trailing separator, split
    it, and verify Java-compatible trailing-empty trimming.

    The oracle states the *expected output* directly — the engine path
    must reduce ``"A ; B;"`` to exactly ``[A, B]``.
    """
    li = read_table(spark, sf_dir, "lineitem")
    arr = F.expr(scalar.multi_split("concat(l_returnflag, ' ; ', l_linestatus, ';')"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(arr, "|").alias("parts"),
        F.size(arr).alias("n_parts"),
    )


@query(
    "scalar_dict_decode",
    oracle="""
SELECT n_nationkey,
       CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA' WHEN 2 THEN 'ASIA'
                        WHEN 3 THEN 'EUROPE' WHEN 4 THEN 'MIDDLE EAST' END AS region_name,
       CASE n_nationkey + 100 WHEN 0 THEN 'AFRICA' END AS miss_decodes_null
FROM nation
""",
)
def scalar_dict_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/J9 dictionary decode as a literal map expression (reference
    Main.java:549-558); map-miss decodes to null (emit-only-on-hit)."""
    nation = read_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        F.expr(scalar.dict_decode("n_regionkey", REGION_DICT)).alias("region_name"),
        F.expr(scalar.dict_decode("n_nationkey + 100", REGION_DICT)).alias("miss_decodes_null"),
    )


@query(
    "scalar_json",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INT) AS k_int,
       json_extract_string(props, '$.k') AS k_str
FROM events
""",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events ``props`` column —
    engine-surface extension (the reference has no JSON functions;
    SURVEY.md §2.8 'engine exposes Spark builtins')."""
    events = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k.cast("int").alias("k_int"),
        k.alias("k_str"),
    )


@query(
    "scalar_defaults",
    oracle="""
SELECT c_custkey,
       COALESCE(TRY_CAST(c_mktsegment AS INT), -1) AS seg_int_sentinel,
       COALESCE(c_name, '')                        AS name_defaulted,
       COALESCE(CAST(c_acctbal < 0 AS INT), -1)    AS neg_flag_int
FROM customer
""",
)
def scalar_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5 sentinel + default fills (reference Main.java:560-617):
    -1 int sentinel for unparsable, '' string default, int-coded bool."""
    customer = read_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.expr(scalar.int_with_default(scalar.try_int("c_mktsegment"))).alias("seg_int_sentinel"),
        F.expr(scalar.string_with_default("c_name")).alias("name_defaulted"),
        F.expr(scalar.int_with_default("CAST(c_acctbal < 0 AS INT)")).alias("neg_flag_int"),
    )


@query(
    "scalar_higher_order",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(list_sum(list_transform(generate_series(1, l_linenumber),
                                    x -> x * x)) AS BIGINT)        AS sq_sum,
       CAST(len(list_filter(generate_series(1, l_linenumber),
                            x -> x % 2 = 0)) AS INT)               AS n_even,
       CAST(list_sum(list_transform(generate_series(1, l_linenumber),
                     i -> i * (l_linenumber + 1 - i))) AS BIGINT)  AS dot_rev,
       CAST(list_max(list_transform(generate_series(1, l_linenumber),
                                    x -> x * 3)) AS INT)           AS max3,
       list_contains(generate_series(1, l_linenumber), 3)          AS has3
FROM lineitem
WHERE l_orderkey % 7 = 0
""",
)
def scalar_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — transform / filter / aggregate /
    zip_with / array_max / array_contains — all whole-stage-codegen'd
    lambda expressions, no UDFs. Integer math only, so both engines
    are exact; DuckDB restates zip_with algebraically (the reversed
    sequence dot product i·(n+1−i))."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 7 == 0)
    n = F.col("l_linenumber")
    seq = F.sequence(F.lit(1), n)
    rev = F.sequence(n, F.lit(1), F.lit(-1))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.aggregate(
            F.transform(seq, lambda x: (x * x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sq_sum"),
        F.size(F.filter(seq, lambda x: x % 2 == 0)).alias("n_even"),
        F.aggregate(
            F.zip_with(seq, rev, lambda a, b: (a * b).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_rev"),
        F.array_max(F.transform(seq, lambda x: x * 3)).alias("max3"),
        F.array_contains(seq, 3).alias("has3"),
    )


@query(
    "scalar_strings",
    oracle="""
SELECT c_custkey,
       upper(c_name)                                  AS uname,
       reverse(c_mktsegment)                          AS rseg,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0')      AS padded,
       replace(c_name, 'Customer#', 'C')              AS short_name,
       CAST(levenshtein(c_mktsegment, 'BUILDING') AS INT) AS lev_building,
       md5(c_name)                                    AS name_md5,
       CAST(strpos(c_name, '#') AS INT)               AS hash_pos,
       substring(c_name, 10, 4)                       AS id4,
       repeat(left(c_mktsegment, 2), 3)               AS seg2x3
FROM customer
""",
)
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: case, reverse, pad, replace,
    levenshtein, md5, find, substring, repeat — every one a JVM
    builtin with a DuckDB twin of identical semantics."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.reverse("c_mktsegment").alias("rseg"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.regexp_replace("c_name", "Customer#", "C").alias("short_name"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("lev_building"),
        F.md5(F.col("c_name").cast("binary")).alias("name_md5"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.substring("c_name", 10, 4).alias("id4"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 3).alias("seg2x3"),
    )


@query(
    "scalar_datetime",
    oracle="""
SELECT o_orderkey,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)        AS yr,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT)     AS qtr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT)       AS mo,
       CAST(EXTRACT(DAY FROM o_orderdate) AS INT)         AS dom,
       CAST(isodow(o_orderdate) AS INT)                   AS iso_dow,
       CAST(strftime(date_trunc('month', o_orderdate), '%Y%m%d') AS INT) AS month_start,
       CAST(strftime(last_day(CAST(o_orderdate AS DATE)), '%Y%m%d') AS INT) AS month_end,
       CAST(strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y%m%d') AS INT) AS plus30,
       CAST(date_diff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_96
FROM orders
WHERE o_orderkey % 5 = 0
""",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface: extract parts, ISO weekday, month trunc /
    last_day, interval arithmetic, day diff — emitted as ints
    (yyyymmdd discipline) so both engines hash identically."""
    o = read_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 5 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        (F.weekday(d) + 1).alias("iso_dow"),
        F.date_format(F.date_trunc("month", d), "yyyyMMdd").cast("int").alias("month_start"),
        F.date_format(F.last_day(d), "yyyyMMdd").cast("int").alias("month_end"),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyyMMdd").cast("int").alias("plus30"),
        F.datediff(d.cast("date"), F.lit("1996-01-01").cast("date")).alias("days_since_96"),
    )
