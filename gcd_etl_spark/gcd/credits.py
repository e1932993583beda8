"""Story-credit subpipeline: expansion, aggregation, pivot.

Reference behavior being reproduced (all of GcdStoryCredit.java):

* J6/J7 — credit ⋈ creator_name_detail ⋈ creator joins
  (GcdStoryCredit.java:115-119); the emitted name is
  ``gcd_creator.gcd_official_name`` and the emitted id is
  ``gcd_creator.id`` (NOT the name_detail id).
* F10 — composite credit types expand recursively to atomic parts
  (GcdStoryCredit.java:26-39,85-97): 7→{P,I}, 8→{P,I,C},
  10→{S,P,I}, 11→{S,P,I,C}, 12→{S,P,I,L}, 13→{S,P,I,C,L}.
* A1 — per (story, atomic type): parallel name/id lists, pairwise
  aligned in credit-row order (GcdStoryCredit.java:122-133). The
  reference inherits MySQL's within-story row order; we pin the
  deterministic equivalent: ascending ``gcd_story_credit.id``.
* F11 — lists pivot to 16 fixed columns (Main.java:468-481). Closed
  type set -> 8 explicit conditional aggs, not ``pivot()``
  (stable schema, single agg pass).

Scale: this is data, not code — the 13-row mapping broadcast-joins,
the explode multiplies credit rows by ≤5, and the single groupBy on
story_id is the only shuffle. No driver-side map (the reference
materialized every credit in JVM RAM, noted as a scaling TODO at
GcdStoryCredit.java:22 — that ceiling does not exist here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Atomic credit fields in enum order (GcdStoryCredit.java:26-39).
ATOMIC_FIELDS = (
    "script",
    "pencils",
    "inks",
    "colors",
    "letters",
    "editing",
    "painting",
)

#: credit_type_id -> atomic field list, composites pre-expanded
#: exactly as the recursive addCredit would
#: (GcdStoryCredit.java:62-77,85-97).
CREDIT_TYPE_EXPANSION: dict[int, list[str]] = {
    1: ["script"],
    2: ["pencils"],
    3: ["inks"],
    4: ["colors"],
    5: ["letters"],
    6: ["editing"],
    7: ["pencils", "inks"],
    8: ["pencils", "inks", "colors"],
    9: ["painting"],
    10: ["script", "pencils", "inks"],
    11: ["script", "pencils", "inks", "colors"],
    12: ["script", "pencils", "inks", "letters"],
    13: ["script", "pencils", "inks", "colors", "letters"],
}


def aggregate_story_credits(
    spark: SparkSession,
    story_credit: DataFrame,
    creator_name_detail: DataFrame,
    creator: DataFrame,
) -> DataFrame:
    """One row per credited story: 16 pairwise-aligned credit columns.

    Output columns: ``story_id``, then for each atomic field X:
    ``credit_X: array<string>`` and ``credit_X_creator_id:
    array<long>`` — empty arrays (not null) for types the story has no
    credits for, because the reference emits empty lists on the
    credit-table path (GcdStoryCredit.java:100-112, getNames/getIds
    return ImmutableList.of()).
    """
    joined = (
        story_credit.alias("c")
        .join(
            F.broadcast(creator_name_detail.alias("n")),
            F.col("c.creator_id") == F.col("n.id"),
            "inner",
        )
        .join(F.broadcast(creator.alias("cr")), F.col("n.creator_id") == F.col("cr.id"), "inner")
        .select(
            F.col("c.story_id").alias("story_id"),
            F.col("c.credit_type_id").alias("credit_type_id"),
            F.col("c.id").alias("credit_row_id"),
            F.col("cr.gcd_official_name").alias("creator_name"),
            F.col("cr.id").alias("creator_id"),
        )
    )
    # ONE collect_list of (rid, type, name, id) per story — no explode
    # (which multiplied agg input ~2.3x) and no per-field CASE aggs
    # (7 object aggs -> 1). The F10 expansion happens AFTER grouping as
    # codegen'd array filters: field X's list is the rid-sorted structs
    # whose type expands to X. Pairwise name/id alignment: single sort
    # on the unique credit_row_id, then per-field filter preserves it
    # (SURVEY.md §7.5).
    # Struct field order IS the sort order (array_sort compares
    # lexicographically): rid, then name/cid to break rid ties the
    # same way the oracle's ORDER BY rid, nm, cid does — tid goes
    # LAST so it never outranks the name tie-break (credit_row_id is
    # only unique per source row, not per (row, type)).
    # All three expression groups below are pure name-bound trees
    # (constants from CREDIT_TYPE_EXPANSION only) — memoized per
    # gateway (round 13, functions/exprcache): ~0.45 s of py4j HOF
    # construction per flagship build otherwise.
    from gcd_etl_spark.functions.exprcache import cached

    agg_col = cached(
        ("credit_structs_agg",),
        lambda: F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("credit_row_id").alias("rid"),
                    F.col("creator_name").alias("name"),
                    F.col("creator_id").alias("cid"),
                    F.col("credit_type_id").alias("tid"),
                )
            )
        ).alias("_structs"),
    )
    agg = joined.groupBy("story_id").agg(agg_col)

    def _filter_cols() -> list:
        # field -> credit_type_ids whose expansion contains it (data
        # from the same CREDIT_TYPE_EXPANSION table the explode used)
        field_tids = {
            field: sorted(
                tid for tid, fields in CREDIT_TYPE_EXPANSION.items() if field in fields
            )
            for field in ATOMIC_FIELDS
        }

        # two-step select so each field's filter runs once, not once
        # per unzip (higher-order exprs are not CSE'd by Catalyst).
        # NB: the lambda must take exactly one positional arg (PySpark
        # introspects the signature), hence the closure factory.
        def _tid_match(tids: list[int]):
            return lambda x: x["tid"].isin(*tids)

        return [
            F.filter(F.col("_structs"), _tid_match(field_tids[f])).alias(f"_f_{f}")
            for f in ATOMIC_FIELDS
        ]

    filtered = agg.select("story_id", *cached(("credit_filters",), _filter_cols))

    def _out_cols() -> list:
        out = [F.col("story_id")]
        for field in ATOMIC_FIELDS:
            s = F.col(f"_f_{field}")
            out.append(F.transform(s, lambda x: x["name"]).alias(f"credit_{field}"))
            out.append(
                F.transform(s, lambda x: x["cid"]).alias(f"credit_{field}_creator_id")
            )
        return out

    return filtered.select(*cached(("credit_out_cols",), _out_cols))
