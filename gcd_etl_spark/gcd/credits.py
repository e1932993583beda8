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
        .join(F.broadcast(creator_name_detail.alias("n")), F.expr("c.creator_id = n.id"), "inner")
        .join(F.broadcast(creator.alias("cr")), F.expr("n.creator_id = cr.id"), "inner")
        .selectExpr(
            "c.story_id AS story_id",
            "c.credit_type_id AS credit_type_id",
            "c.id AS credit_row_id",
            "cr.gcd_official_name AS creator_name",
            "cr.id AS creator_id",
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
    # The three expression groups below reach the JVM as SQL text, one
    # call per group (built Column by Column they cost ~0.45 s of py4j
    # higher-order-function construction per flagship build).
    agg = joined.groupBy("story_id").agg(
        F.expr(
            "array_sort(collect_list(struct(credit_row_id AS rid, creator_name AS name,"
            " creator_id AS cid, credit_type_id AS tid))) AS _structs"
        )
    )
    # field -> credit_type_ids whose expansion contains it (data from
    # the same CREDIT_TYPE_EXPANSION table the explode used). Two-step
    # select so each field's filter runs once, not once per unzip
    # (higher-order exprs are not CSE'd by Catalyst).
    filters = []
    for field in ATOMIC_FIELDS:
        tids = ", ".join(
            str(tid) for tid, fields in sorted(CREDIT_TYPE_EXPANSION.items()) if field in fields
        )
        filters.append(f"filter(_structs, x -> x.tid IN ({tids})) AS _f_{field}")
    filtered = agg.selectExpr("story_id", *filters)
    out = ["story_id"]
    for field in ATOMIC_FIELDS:
        out.append(f"transform(_f_{field}, x -> x.name) AS credit_{field}")
        out.append(f"transform(_f_{field}, x -> x.cid) AS credit_{field}_creator_id")
    return filtered.selectExpr(*out)
