"""Derive the 13 GCD input tables from the TPC-H fixture tables.

The driver's correctness gate runs each registered query on the
fixture parquet and compares against DuckDB (TESTDATA.md). The GCD
flagship pipeline consumes GCD-shaped tables, so this module derives
them *deterministically* from the fixtures — same arithmetic in the
Spark dialect and the DuckDB dialect — which (a) puts the whole
flagship ETL (reference Main.java:134-216,385-503) under the driver's
hash-check, and (b) makes its input scale with sf (at sf0.1 the
story side is ~500k rows; at 100 TB the same plan holds because
nothing here changes the join/shuffle structure).

Each table is ONE select statement written in dialect-parameterized
SQL: the few engine differences (string cast name, date formatting,
day arithmetic) go through the ``_Dialect`` helpers; everything else
is literally the same text for both engines, which is what keeps the
two sides from drifting.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from gcd_etl_spark.gcd.schema import GCD_INPUT_TABLES


@dataclass(frozen=True)
class _Dialect:
    name: str

    def s(self, x: str) -> str:
        """Cast to string."""
        t = "STRING" if self.name == "spark" else "VARCHAR"
        return f"CAST({x} AS {t})"

    def fmt_date(self, x: str) -> str:
        """timestamp -> 'YYYY-MM-DD' string."""
        if self.name == "spark":
            return f"date_format({x}, 'yyyy-MM-dd')"
        return f"strftime({x}, '%Y-%m-%d')"

    def ts_days(self, base: str, n: str) -> str:
        """TIMESTAMP 'base' + n days."""
        if self.name == "spark":
            return f"timestampadd(DAY, CAST({n} AS INT), TIMESTAMP '{base}')"
        return f"(TIMESTAMP '{base}' + to_days(CAST({n} AS INT)))"


SPARK = _Dialect("spark")
DUCK = _Dialect("duck")

#: Per-story legacy credit-string mix (NULL / '' / list / trailing-;)
_LEGACY_FIELDS = ("script", "pencils", "inks", "colors", "letters", "editing")


def _legacy(col_seed: str, k: int) -> str:
    return (
        f"CASE ({col_seed} + {k}) % 5 WHEN 0 THEN 'Name A; Name B' WHEN 1 THEN '?' "
        f"WHEN 2 THEN NULL WHEN 3 THEN '' ELSE 'X ; Y ;' END"
    )


def derivation_sql(d: _Dialect, src: dict[str, str]) -> dict[str, str]:
    """name -> SELECT deriving that GCD table; ``src`` maps fixture
    table name -> FROM-clause reference (view name or parquet path)."""
    ts0 = "1995-01-01 00:00:00"
    return {
        "stddata_country": f"""
            SELECT CAST(r_regionkey + 1 AS INT) AS id, r_name AS code
            FROM {src["region"]}""",
        "stddata_language": f"""
            SELECT CAST(r_regionkey + 1 AS INT) AS id, r_name || '_L' AS code
            FROM {src["region"]}""",
        "gcd_series_publication_type": f"""
            SELECT CAST(r_regionkey + 1 AS INT) AS id, 'pub ' || r_name AS name
            FROM {src["region"]}""",
        "gcd_story_type": f"""
            SELECT CAST(n_nationkey + 1 AS INT) AS id, n_name AS name
            FROM {src["nation"]}""",
        "gcd_publisher": f"""
            SELECT CAST(n_nationkey + 1 AS BIGINT) AS id,
                   n_name AS name,
                   CAST(n_regionkey + 1 AS INT) AS country_id,
                   CASE WHEN n_nationkey % 3 = 0 THEN NULL
                        ELSE 'http://pub/' || n_name END AS url,
                   {d.ts_days(ts0, "n_nationkey")} AS created,
                   {d.ts_days(ts0, "n_nationkey + 100")} AS modified
            FROM {src["nation"]}""",
        "gcd_indicia_publisher": f"""
            SELECT CAST(s_suppkey AS BIGINT) AS id,
                   s_name AS name,
                   CAST(s_nationkey % 8 + 1 AS INT) AS country_id,
                   CAST(s_nationkey + 1 AS BIGINT) AS parent_id,
                   CAST(1950 + s_suppkey % 60 AS INT) AS year_began,
                   CASE WHEN s_suppkey % 3 = 0 THEN NULL
                        ELSE CAST(1960 + s_suppkey % 64 AS INT) END AS year_ended,
                   CAST(s_suppkey % 2 AS INT) AS is_surrogate,
                   CAST(NULL AS {"STRING" if d.name == "spark" else "VARCHAR"}) AS url,
                   {d.ts_days(ts0, "s_suppkey % 2000")} AS created,
                   {d.ts_days(ts0, "s_suppkey % 2000 + 7")} AS modified
            FROM {src["supplier"]}""",
        "gcd_brand": f"""
            SELECT CAST(s_suppkey AS BIGINT) AS id,
                   'Brand ' || s_name AS name,
                   CASE WHEN s_suppkey % 2 = 0 THEN NULL
                        ELSE 'http://brand/' || {d.s("s_suppkey")} END AS url,
                   {d.ts_days(ts0, "s_suppkey % 1500")} AS created,
                   {d.ts_days(ts0, "s_suppkey % 1500 + 3")} AS modified
            FROM {src["supplier"]}""",
        "gcd_series": f"""
            SELECT CAST(c_custkey AS BIGINT) AS id,
                   c_name AS name,
                   CAST(1900 + c_custkey % 100 AS INT) AS year_began,
                   CASE WHEN c_custkey % 4 = 0 THEN NULL
                        ELSE CAST(1950 + c_custkey % 70 AS INT) END AS year_ended,
                   CAST(c_custkey % 2 AS INT) AS is_current,
                   CAST(c_nationkey % 8 + 1 AS INT) AS country_id,
                   CAST(c_nationkey % 9 + 1 AS INT) AS language_id,
                   CAST(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS INT) AS has_gallery,
                   CAST(CASE WHEN c_custkey % 5 = 0 THEN 0 ELSE 1 END AS INT) AS is_comics_publication,
                   c_mktsegment AS color,
                   CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE 'standard' END AS dimensions,
                   CAST(NULL AS {"STRING" if d.name == "spark" else "VARCHAR"}) AS paper_stock,
                   CASE c_custkey % 4 WHEN 0 THEN c_mktsegment || '; glue ;'
                        WHEN 1 THEN '' WHEN 2 THEN NULL ELSE 'hardcover' END AS binding,
                   'ongoing' AS publishing_format,
                   CASE WHEN c_custkey % 5 = 0 THEN NULL
                        ELSE CAST(c_custkey % 7 + 1 AS INT) END AS publication_type_id,
                   CAST(c_custkey % 2 AS INT) AS is_singleton,
                   {d.ts_days(ts0, "c_custkey % 3000")} AS created,
                   {d.ts_days(ts0, "c_custkey % 3000 + 11")} AS modified,
                   CAST(c_nationkey + 1 AS BIGINT) AS publisher_id
            FROM {src["customer"]}""",
        "gcd_issue": f"""
            SELECT CAST(o_orderkey AS BIGINT) AS id,
                   CASE o_orderkey % 6 WHEN 0 THEN 'Annual 1' WHEN 1 THEN ''
                        WHEN 2 THEN NULL WHEN 3 THEN '0042'
                        ELSE {d.s("o_orderkey % 300")} END AS number,
                   CASE o_orderkey % 5 WHEN 0 THEN '1987-00-00' WHEN 1 THEN NULL
                        WHEN 2 THEN '1987-3-1' WHEN 3 THEN ''
                        ELSE {d.fmt_date("o_orderdate")} END AS key_date,
                   CASE o_orderkey % 4 WHEN 0 THEN '2.50 USD; 3.00 CAD ;'
                        WHEN 1 THEN NULL WHEN 2 THEN '' ELSE 'free' END AS price,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 200 AS INT) END AS page_count,
                   'monthly' AS indicia_frequency,
                   CAST(NULL AS {"STRING" if d.name == "spark" else "VARCHAR"}) AS isbn,
                   '' AS variant_name,
                   CASE WHEN o_orderkey % 10 = 0 THEN CAST(o_orderkey % 100 + 1 AS BIGINT)
                        ELSE NULL END AS variant_of_id,
                   CAST(NULL AS {"STRING" if d.name == "spark" else "VARCHAR"}) AS barcode,
                   'Issue ' || {d.s("o_orderkey")} AS title,
                   CASE o_orderkey % 3 WHEN 0 THEN {d.fmt_date("o_orderdate")}
                        WHEN 1 THEN '1999-13-99' ELSE NULL END AS on_sale_date,
                   CAST(NULL AS {"STRING" if d.name == "spark" else "VARCHAR"}) AS rating,
                   CASE WHEN o_orderkey % 11 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 2 AS INT) END AS volume_not_printed,
                   CASE o_orderkey % 4 WHEN 0 THEN 'Ed One; Ed Two'
                        WHEN 1 THEN 'Solo ; ' ELSE NULL END AS editing,
                   CAST(NULL AS {"STRING" if d.name == "spark" else "VARCHAR"}) AS notes,
                   CAST(o_orderdate AS TIMESTAMP) AS created,
                   {d.ts_days(ts0, "o_orderkey % 9000")} AS modified,
                   CAST(o_custkey AS BIGINT) AS series_id,
                   CASE WHEN o_orderkey % 3 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 500 + 1 AS BIGINT) END AS indicia_publisher_id,
                   CASE WHEN o_orderkey % 4 = 0 THEN NULL
                        ELSE CAST(o_orderkey % 300 + 1 AS BIGINT) END AS brand_id
            FROM {src["orders"]}""",
        "gcd_story": f"""
            SELECT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS id,
                   CAST(l_orderkey AS BIGINT) AS issue_id,
                   'S' || {d.s("l_partkey")} AS title,
                   l_returnflag || l_linestatus AS feature,
                   CAST(l_linenumber AS INT) AS sequence_number,
                   CASE WHEN l_partkey % 9 = 0 THEN NULL
                        ELSE CAST(l_partkey % 60 AS INT) END AS page_count,
                   {_legacy("l_partkey", 0)} AS script,
                   {_legacy("l_partkey", 1)} AS pencils,
                   {_legacy("l_partkey", 2)} AS inks,
                   {_legacy("l_partkey", 3)} AS colors,
                   {_legacy("l_partkey", 4)} AS letters,
                   {_legacy("l_partkey", 7)} AS editing,
                   CASE l_suppkey % 3 WHEN 0 THEN 'superhero; adventure'
                        WHEN 1 THEN '' ELSE NULL END AS genre,
                   l_returnflag || ' ; ' || l_linestatus || ' ;' AS characters,
                   CAST(l_partkey % 30 + 1 AS INT) AS type_id,
                   CAST(NULL AS {"STRING" if d.name == "spark" else "VARCHAR"}) AS job_number,
                   CASE WHEN l_partkey % 2 = 0 THEN 'It was a dark...' ELSE NULL END AS first_line,
                   CAST(l_shipdate AS TIMESTAMP) AS created,
                   CAST(l_shipdate AS TIMESTAMP) AS modified
            FROM {src["lineitem"]}
            WHERE l_orderkey % 7 <> 0""",
        "gcd_story_credit": f"""
            SELECT CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS id,
                   CAST(l_orderkey * 8 + 1 AS BIGINT) AS story_id,
                   CAST(l_partkey % 13 + 1 AS INT) AS credit_type_id,
                   CASE WHEN l_partkey % 17 = 0 THEN CAST(l_suppkey + 100000 AS BIGINT)
                        ELSE CAST(l_suppkey AS BIGINT) END AS creator_id
            FROM {src["lineitem"]}
            WHERE l_orderkey % 7 <> 0 AND l_linenumber >= 2""",
        "gcd_creator_name_detail": f"""
            SELECT CAST(s_suppkey AS BIGINT) AS id,
                   CAST(s_suppkey AS BIGINT) AS creator_id
            FROM {src["supplier"]}""",
        "gcd_creator": f"""
            SELECT CAST(s_suppkey AS BIGINT) AS id,
                   'Creator ' || s_name AS gcd_official_name
            FROM {src["supplier"]}""",
    }


#: The fixture tables the GCD derivations read.
FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")


def gcd_tables_from_fixtures(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Spark side: each derivation as one spark.sql over the fixture
    parquet (read directly — no temp-view global state). Each call
    builds fresh frames, so a caller may replace entries in the
    returned dict (gcd_snapshot_from_dump swaps in dump-parsed frames,
    the bucketed variant swaps in staged tables)."""
    src = {t: f"parquet.`{sf_dir}/{t}.parquet`" for t in FIXTURE_TABLES}
    sqls = derivation_sql(SPARK, src)
    return {name: spark.sql(sqls[name]) for name in GCD_INPUT_TABLES}


def gcd_fixture_ctes() -> str:
    """DuckDB side: the same derivations as a CTE block (the driver
    pre-registers fixture views under their plain names)."""
    src = {t: t for t in FIXTURE_TABLES}
    sqls = derivation_sql(DUCK, src)
    return ",\n".join(f"{name} AS ({sql})" for name, sql in sqls.items()) + ",\n"
