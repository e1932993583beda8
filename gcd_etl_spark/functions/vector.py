"""Vector math over ``array<float>`` embedding columns.

Everything here is a Column expression: dot/norm/cosine via
``F.zip_with`` + ``F.aggregate`` (or unrolled for a known dimension)
stay JVM-side and compose with joins, filters and projections — no
Arrow hop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product in double precision (float32 inputs are widened
    BEFORE multiplying — float-precision products drift from any
    double-precision oracle)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null when either norm is 0."""
    d = dot(a, b)
    denom = norm(a) * norm(b)
    return F.when(denom > 0, d / denom).otherwise(F.lit(None))


def _dot_fixed_sql(a: str, b: str, dim: int) -> str:
    terms = "".join(
        f" + CAST(element_at({a}, {i}) AS DOUBLE) * CAST(element_at({b}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"0.0D{terms}"


def dot_fixed(a: str, b: str, dim: int) -> Column:
    """Dot product for a KNOWN dimension, unrolled to flat codegen'd
    arithmetic (no higher-order functions — Spark evaluates
    ``aggregate``/``zip_with`` lambdas interpreted, per element; the
    unrolled form is ~20x faster in pairwise joins). Left-to-right
    addition order matches ``dot``'s sequential fold bit-for-bit.
    Like every fixed-dim unroll here it reaches the JVM as ONE
    ``F.expr`` of SQL text (``a``/``b`` are column names)."""
    return F.expr(_dot_fixed_sql(a, b, dim))


def _balanced_sum(terms: list[str]) -> str:
    """Pairwise-balanced sum of integer SQL terms: depth log2(n) instead
    of the left-deep n-deep Add chain. Integer addition is associative
    so the VALUE is bit-identical to the sequential sum — only the
    expression tree shape changes. The shape matters: a 64-deep
    nested chain made Janino fail with an InternalCompilerException
    when a dropDuplicates HashAggregate's output projection fused the
    dot into hashAgg_doAggregateWithKeysOutput (round-12 bench
    stderr: 10 fallbacks per run on the SRP verify stages), silently
    degrading the fused stage to interpreted evaluation — the exact
    round-6 failure class the bench fallback detector exists for."""
    if not terms:  # dim=0: keep the old accumulator contract (0L)
        return "CAST(0 AS BIGINT)"
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def dot_fixed_long(a: str, b: str, dim: int) -> Column:
    """EXACT integer dot product for a KNOWN dimension, unrolled to
    flat codegen'd long arithmetic — for micro-scaled integer vectors
    whose oracles restate the same BIGINT sum (``dot_fixed`` would be
    value-exact here too since every intermediate stays under 2^53,
    but long-typed terms keep the plan's type story identical to the
    oracle's and free of float casts). Terms combine as a BALANCED
    tree (see _balanced_sum) so whole-stage codegen survives the
    64-term unroll."""
    return F.expr(
        _balanced_sum(
            [f"element_at({a}, {i}) * element_at({b}, {i})" for i in range(1, dim + 1)]
        )
    )


def dot_hof_long(a: Column | str, b: Column | str) -> Column:
    """EXACT integer dot product as a higher-order-function loop
    (``aggregate(zip_with(a, b, *), 0L, +)``) — bit-identical to
    ``dot_fixed_long`` (same int64 terms, addition associative) with
    the OPPOSITE codegen trade: HOFs are CodegenFallback, so the
    expression evaluates as a Scala loop and its host node leaves
    whole-stage codegen — but the generated METHOD stays tiny, so the
    surrounding stage (joins, filters, aggregates) compiles.

    Use this form where the unrolled dot lands inside a LARGE fused
    stage: the round-12 measurement on dedup_semantic_srp at sf0.1 —
    unrolled dot blew Janino's 64 KB method limit inside the
    dropDuplicates-output fused stage, degrading the WHOLE stage to
    interpreted (warm min 3.31 s, 2 compile failures); this form ran
    the same query at 2.74 s warm with ZERO failures and identical
    rows. Keep ``dot_fixed_long`` where the projection is small
    enough to compile — fully codegen'd arithmetic beats a
    CodegenFallback loop when both fit."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dist2_fixed_long(a: str, b: str, dim: int) -> Column:
    """EXACT integer squared L2 distance for a KNOWN dimension,
    unrolled with the balanced-tree combine (see ``dot_fixed_long``)."""
    return F.expr(
        _balanced_sum(
            [
                f"(element_at({a}, {i}) - element_at({b}, {i}))"
                f" * (element_at({a}, {i}) - element_at({b}, {i}))"
                for i in range(1, dim + 1)
            ]
        )
    )


def norm_fixed(a: str, dim: int) -> Column:
    """L2 norm for a KNOWN dimension (unrolled; see ``dot_fixed``)."""
    return F.expr(f"sqrt({_dot_fixed_sql(a, a, dim)})")


def cosine_fixed(a: str, b: str, dim: int) -> Column:
    """Cosine for a KNOWN dimension (unrolled; see ``dot_fixed``)."""
    denom = f"sqrt({_dot_fixed_sql(a, a, dim)}) * sqrt({_dot_fixed_sql(b, b, dim)})"
    return F.expr(f"CASE WHEN {denom} > 0 THEN ({_dot_fixed_sql(a, b, dim)}) / ({denom}) END")


def random_hyperplane_signs(a: Column | str, planes: list[list[float]]) -> Column:
    """Sign bits of projections onto fixed hyperplanes (SimHash/LSH
    building block): array<int> of 0/1, one per plane.

    The planes are literals, so each projection unrolls to a FLAT
    sum of ``element_at(vec, i) * w_i`` terms — plain codegen'd
    arithmetic, no higher-order functions (Spark evaluates
    ``aggregate``/``zip_with`` lambdas interpreted, per element, with
    an array allocation per step — measured ~10x slower here)."""
    ca = F.col(a) if isinstance(a, str) else a
    bits = []
    for plane in planes:
        terms = [
            F.element_at(ca, i + 1).cast("double") * F.lit(float(w))
            for i, w in enumerate(plane)
        ]
        proj = terms[0]
        for t in terms[1:]:
            proj = proj + t
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)))
    return F.array(*bits)
