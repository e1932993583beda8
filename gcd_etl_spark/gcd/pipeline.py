"""The flagship GCD ETL: denormalized snapshot build, Spark-first.

Replaces the reference's whole execution stack — MySQL-planned
6-table join (reference Main.java:134-216), single-threaded JDBC
cursor + per-row Java transforms (Main.java:369-519), RAM-resident
credit map (GcdStoryCredit.java:113-137) — with ONE declarative
DataFrame plan:

    issue ⋈ series ⋈ publisher ⟕ indicia ⟕ brand ⟕ story
          ⟕ credits_agg(story_id)           [no RAM ceiling]
    -> 89-column select of SQL expressions (one selectExpr call)
    -> partitionBy(snapshot) parquet sink

Semantics preserved bit-for-bit, including the reference's quirky
JDBC null handling (``ResultSet.getInt/getLong`` turn SQL NULL into
0 with no wasNull() check — so e.g. a missed left join writes
``indicia_publisher_id = 0``, not null), the ``-1`` date sentinels,
the '' string defaults, and the credit-source preference (F12).

Scale notes: dimension sides (publisher, indicia, brand, dict
tables) broadcast; the two big exchanges are issue⋈series⟕story
(keyed on series_id / issue_id) and the credit groupBy (story_id).
At 100 TB, bucket gcd_story and gcd_story_credit by their join keys
at staging time and both exchanges disappear.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcd_etl_spark.functions import scalar
from gcd_etl_spark.gcd.credits import ATOMIC_FIELDS, aggregate_story_credits
from gcd_etl_spark.gcd.schema import GCD_SNAPSHOT_SCHEMA, GcdSchemaFlags
from gcd_etl_spark.sources.sinks import register_snapshot_table, write_snapshot


def run_epoch_seconds(run_date: str) -> int:
    """F5 — run date at GMT-06:00 midnight -> epoch seconds
    (reference Main.java:59-60)."""
    y, m, d = (int(x) for x in run_date.split("-"))
    tz = _dt.timezone(_dt.timedelta(hours=-6))
    return int(_dt.datetime(y, m, d, tzinfo=tz).timestamp())


def _jdbc_int(expr: str) -> str:
    """``ResultSet.getInt``: SQL NULL -> 0 (reference Main.java:602-607,
    no wasNull check)."""
    return f"coalesce(CAST({expr} AS INT), 0)"


def _jdbc_long(expr: str) -> str:
    """``ResultSet.getLong``: SQL NULL -> 0 (reference Main.java:611-616)."""
    return f"coalesce(CAST({expr} AS BIGINT), CAST(0 AS BIGINT))"


def _jdbc_bool(expr: str) -> str:
    """``getInt(...) == 1`` with NULL -> 0 -> false (reference
    Main.java:410 etc.)."""
    return f"{_jdbc_int(expr)} = 1"


def _epoch_date(expr: str) -> str:
    """Timestamp column -> epoch secs -> yyyymmdd int, -1 on null/<=0
    (F1 + F4: UNIX_TIMESTAMP in the query, Main.java:637-650 helper).
    Integer date math — no per-row string formatting (14 of these
    stamp every output row)."""
    formatted = f"CAST(year({expr}) * 10000 + month({expr}) * 100 + dayofmonth({expr}) AS INT)"
    return f"CASE WHEN unix_timestamp({expr}) > 0 THEN {formatted} ELSE -1 END"


#: Dictionary-dimension tables and their (key, value) columns
#: (reference GcdMetadata.java:58-72).
_DICT_TABLES = {
    "stddata_country": ("id", "code"),
    "stddata_language": ("id", "code"),
    "gcd_series_publication_type": ("id", "name"),
    "gcd_story_type": ("id", "name"),
}


def collect_dict_maps(
    tables: dict[str, DataFrame], flags: GcdSchemaFlags = GcdSchemaFlags()
) -> dict[str, dict[int, str]]:
    """Collect the 4 tiny dictionary dimensions to driver-side maps
    (reference GcdMetadata.java:58-86). A deliberate driver step —
    the decode itself stays codegen'd via a literal map expression.
    All four dimensions ride ONE tagged-union collect job (round 13:
    four separate collect jobs per build, each a scheduler round trip,
    for tables of a few dozen rows — guide §1.2); the per-table maps
    are split back out driver-side, values unchanged. A row whose key
    is NULL (a malformed dump id try-casts to NULL) is skipped: the
    reference's ``d.id = ...`` probe never matches NULL, and the
    decode probes a NULL-coalesced key that a NULL entry could never
    serve either."""
    out: dict[str, dict[int, str]] = {}
    parts: list[DataFrame] = []
    for name, (key_col, val_col) in _DICT_TABLES.items():
        if name == "gcd_series_publication_type" and not flags.publication_type:
            out[name] = {}
            continue
        out[name] = {}
        parts.append(
            tables[name].selectExpr(
                f"{scalar.sql_str(name)} AS _t",
                f"CAST({key_col} AS BIGINT) AS _k",
                f"CAST({val_col} AS STRING) AS _v",
            )
        )
    if parts:
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        for r in union.collect():
            if r["_k"] is not None:
                out[r["_t"]][int(r["_k"])] = r["_v"]
    return out


def build_snapshot(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    run_date: str,
    flags: GcdSchemaFlags = GcdSchemaFlags(),
    dicts: dict[str, dict[int, str]] | None = None,
) -> DataFrame:
    """Build the denormalized issue-story snapshot DataFrame.

    ``tables`` maps GCD table names to DataFrames (parquet staging at
    scale; see sources/jdbc.py for the dump->staging path).
    ``dicts`` optionally supplies pre-collected dictionary maps
    (see ``collect_dict_maps``).
    """
    unix_time = run_epoch_seconds(run_date)

    issue = tables["gcd_issue"].alias("issue")
    series = tables["gcd_series"].alias("series")
    publisher = tables["gcd_publisher"].alias("publisher")
    indicia = tables["gcd_indicia_publisher"].alias("indicia")
    brand = tables["gcd_brand"].alias("brand")
    story = tables["gcd_story"].alias("story")

    if dicts is None:
        dicts = collect_dict_maps(tables, flags)

    # Credits subpipeline (J6/J7 + F10 + A1 + F11), left-joined by
    # story_id — replaces the reference's in-RAM Map<Long, ...> probe.
    if flags.story_credit:
        credits = aggregate_story_credits(
            spark,
            tables["gcd_story_credit"],
            tables["gcd_creator_name_detail"],
            tables["gcd_creator"],
        ).alias("credit")
    else:
        credits = None

    # Join credits into the NARROW story side first: the credits agg
    # meets ~20 story columns instead of the 80+-column issue⋈story
    # result, so the widest rows shuffle exactly once (on issue.id for
    # the story join) rather than re-exchanging on story.id. At 100 TB
    # the removed exchange is the full denormalized width.
    story_side = story
    if credits is not None:
        story_side = story.join(credits, F.expr("story.id = credit.story_id"), "left")

    # Join conditions go over as SQL text too (one call each).
    joined = (
        issue.join(series, F.expr("issue.series_id = series.id"), "inner")
        .join(F.broadcast(publisher), F.expr("series.publisher_id = publisher.id"), "inner")
        .join(F.broadcast(indicia), F.expr("issue.indicia_publisher_id = indicia.id"), "left")
        .join(F.broadcast(brand), F.expr("issue.brand_id = brand.id"), "left")
        .join(story_side, F.expr("story.issue_id = issue.id"), "left")
    )

    # The 89-column projection goes to the JVM as SQL text in ONE
    # selectExpr call. Built Column by Column, this function cost
    # ~10,500 py4j commands per call; tests/test_build_budget.py pins
    # the SQL-text build's budget.
    cols = _snapshot_cols(unix_time, flags, dicts, credits is not None)
    out = joined.selectExpr(*cols)
    assert [f.name for f in out.schema.fields] == [f.name for f in GCD_SNAPSHOT_SCHEMA.fields]
    return out


def _snapshot_cols(
    unix_time: int,
    flags: GcdSchemaFlags,
    dicts: dict[str, dict[int, str]],
    has_credits: bool,
) -> list[str]:
    """The flagship's 89 output expressions as ``<sql> AS <name>``
    text (see ``build_snapshot``)."""
    country = dicts["stddata_country"]
    language = dicts["stddata_language"]
    pubtype = dicts["gcd_series_publication_type"] if flags.publication_type else {}
    storytype = dicts["gcd_story_type"]

    credit_present = (
        "(credit.story_id IS NOT NULL AND story.id IS NOT NULL)" if has_credits else "false"
    )

    def story_gate(expr: str) -> str:
        """P3 — story_* fields only set on story rows (Main.java:459)."""
        return f"CASE WHEN story.id IS NOT NULL THEN {expr} END"

    def credit_cols() -> list[str]:
        """F12 — curated credits win; legacy semicolon fields are the
        fallback for 6 of 8 types (painting/ids have no legacy source,
        reference Main.java:467-493)."""
        out: list[str] = []
        legacy_fields = {"script", "pencils", "inks", "colors", "letters", "editing"}
        no_ids = "CAST(NULL AS ARRAY<BIGINT>)"
        for field in ATOMIC_FIELDS:
            if has_credits:
                curated_names = f"credit.credit_{field}"
                curated_ids = f"credit.credit_{field}_creator_id"
            else:
                curated_names = "CAST(NULL AS ARRAY<STRING>)"
                curated_ids = no_ids
            legacy_names = (
                scalar.multi_split(f"story.{field}")
                if field in legacy_fields
                else "CAST(NULL AS ARRAY<STRING>)"
            )
            out.append(
                f"CASE WHEN {credit_present} THEN {curated_names} "
                f"ELSE {story_gate(legacy_names)} END AS story_{field}"
            )
            out.append(
                f"CASE WHEN {credit_present} THEN {curated_ids} "
                f"ELSE {no_ids} END AS story_{field}_creator_id"
            )
        return out

    def flagged(on: bool, expr: str, null_type: str) -> str:
        """A schema-flagged column, typed NULL when the flag is off."""
        return expr if on else f"CAST(NULL AS {null_type})"

    legacy_source = story_gate("'gcd_story'")

    cols: list[str] = [
        f"CAST({unix_time} AS BIGINT) AS unix_time",  # F13
        f"{_jdbc_long('issue.id')} AS issue_id",
        f"{scalar.string_with_default('issue.number')} AS issue_number_raw",
        f"{scalar.try_int('issue.number')} AS issue_number",  # F7
        f"{scalar.date_str_to_int('issue.key_date')} AS publication_date",  # F3
        f"{scalar.string_with_default('issue.price')} AS price_raw",
        f"{scalar.multi_split('issue.price')} AS price",  # F2
        f"{_jdbc_int('issue.page_count')} AS page_count",
        "issue.indicia_frequency AS indicia_frequency",
        "issue.isbn AS isbn",
        "issue.variant_name AS variant_name",
        f"{_jdbc_long('issue.variant_of_id')} AS variant_of_issue_id",
        "issue.barcode AS barcode",
        "issue.title AS title",
        f"{scalar.date_str_to_int('issue.on_sale_date')} AS on_sale_date",
        "issue.rating AS rating",
        f"{flagged(flags.volume_not_printed, _jdbc_bool('issue.volume_not_printed'), 'BOOLEAN')}"
        " AS volume_not_printed",
        f"{scalar.multi_split('issue.editing')} AS editing",
        "issue.notes AS notes",
        f"{_epoch_date('issue.created')} AS created",
        f"{_epoch_date('issue.modified')} AS modified",
        f"{_jdbc_long('series.id')} AS series_id",
        "series.name AS series_name",
        f"{_jdbc_int('series.year_began')} AS series_year_began",
        f"{_jdbc_int('series.year_ended')} AS series_year_ended",
        f"{_jdbc_bool('series.is_current')} AS series_is_current",
        f"{scalar.dict_decode(_jdbc_int('series.country_id'), country)}"
        " AS series_country_code",  # F9
        f"{scalar.dict_decode(_jdbc_int('series.language_id'), language)}"
        " AS series_language_code",
        f"{_jdbc_bool('series.has_gallery')} AS series_has_gallery",
        f"{_jdbc_bool('series.is_comics_publication')} AS series_is_comics_publication",
        "series.color AS series_color",
        "series.dimensions AS series_dimensions",
        "series.paper_stock AS series_paper_stock",
        f"{scalar.multi_split('series.binding')} AS series_binding",
        "series.publishing_format AS series_publishing_format",
        f"""{flagged(
            flags.publication_type,
            scalar.dict_decode(_jdbc_int('series.publication_type_id'), pubtype),
            'STRING',
        )} AS series_publishing_type""",
        f"{flagged(flags.series_is_singleton, _jdbc_bool('series.is_singleton'), 'BOOLEAN')}"
        " AS series_is_singleton",
        f"{_epoch_date('series.created')} AS series_created",
        f"{_epoch_date('series.modified')} AS series_modified",
        f"{_jdbc_long('publisher.id')} AS publisher_id",
        "publisher.name AS publisher_name",
        f"{scalar.dict_decode(_jdbc_int('publisher.country_id'), country)}"
        " AS publisher_country_code",
        f"{_epoch_date('publisher.created')} AS publisher_created",
        f"{_epoch_date('publisher.modified')} AS publisher_modified",
        "publisher.url AS publisher_url",
        f"{_jdbc_long('indicia.id')} AS indicia_publisher_id",
        "indicia.name AS indicia_publisher_name",
        f"{scalar.dict_decode(_jdbc_int('indicia.country_id'), country)}"
        " AS indicia_publisher_country_code",
        f"{_jdbc_long('indicia.parent_id')} AS indicia_publisher_parent_id",
        f"{_jdbc_int('indicia.year_began')} AS indicia_publisher_year_began",
        f"{_jdbc_int('indicia.year_ended')} AS indicia_publisher_year_ended",
        f"{_jdbc_bool('indicia.is_surrogate')} AS indicia_publisher_is_surrogate",
        "indicia.url AS indicia_publisher_url",
        f"{_epoch_date('indicia.created')} AS indicia_publisher_created",
        f"{_epoch_date('indicia.modified')} AS indicia_publisher_modified",
        f"{_jdbc_long('brand.id')} AS brand_id",
        "brand.name AS brand_name",
        "brand.url AS brand_url",
        f"{_epoch_date('brand.created')} AS brand_created",
        f"{_epoch_date('brand.modified')} AS brand_modified",
        "story.id AS story_id",
        f"{story_gate('story.title')} AS story_title",
        f"{story_gate('story.feature')} AS story_feature",
        f"{story_gate(_jdbc_int('story.sequence_number'))} AS story_sequence_number",
        f"{story_gate(_jdbc_int('story.page_count'))} AS story_page_count",
        *credit_cols(),
        f"CASE WHEN {credit_present} THEN 'gcd_story_credit' "
        f"ELSE {legacy_source} END AS story_credit_source",
        f"{story_gate(scalar.multi_split('story.genre'))} AS story_genre",
        f"{story_gate(scalar.multi_split('story.characters'))} AS story_characters",
        f"{story_gate(scalar.dict_decode(_jdbc_int('story.type_id'), storytype))} AS story_type",
        f"{story_gate('story.job_number')} AS story_job_number",
        f"{flagged(flags.story_first_line, story_gate('story.first_line'), 'STRING')}"
        " AS story_first_line",
        f"{story_gate(_epoch_date('story.created'))} AS story_created",
        f"{story_gate(_epoch_date('story.modified'))} AS story_modified",
    ]
    return cols

def write_gcd_snapshot(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    run_date: str,
    out_path: str,
    table_name: str | None = None,
    flags: GcdSchemaFlags = GcdSchemaFlags(),
) -> DataFrame:
    """Build + write one snapshot partition; optionally register the
    SQL-queryable table over it (S5 + S8)."""
    df = build_snapshot(spark, tables, run_date, flags)
    write_snapshot(df, out_path, snapshot=scalar.snapshot_int(run_date))
    if table_name:
        register_snapshot_table(spark, table_name, out_path)
    return df
