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


def _memo_fixed(key: tuple, builder, *operands):
    """Memoize an unrolled fixed-dim expression tree when every
    operand is a plain column NAME (hashable, name-bound — the form
    every hot caller uses; a Column operand just builds directly).
    Round 13: each 64-term unroll is ~300 py4j round trips, ~0.5-1.5 s
    per DataFrame build, rebuilt on every bench rep. Expressions only
    — see functions/exprcache.py."""
    from gcd_etl_spark.functions.exprcache import cached

    if all(isinstance(o, str) for o in operands):
        return cached(key, builder)
    return builder()


def dot_fixed(a: Column | str, b: Column | str, dim: int) -> Column:
    """Dot product for a KNOWN dimension, unrolled to flat codegen'd
    arithmetic (no higher-order functions — Spark evaluates
    ``aggregate``/``zip_with`` lambdas interpreted, per element; the
    unrolled form is ~20x faster in pairwise joins). Left-to-right
    addition order matches ``dot``'s sequential fold bit-for-bit."""
    def build():
        ca = F.col(a) if isinstance(a, str) else a
        cb = F.col(b) if isinstance(b, str) else b
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + F.element_at(ca, i).cast("double") * F.element_at(cb, i).cast("double")
        return acc

    return _memo_fixed(("dot_fixed", a, b, dim), build, a, b)


def _balanced_sum(terms: list[Column]) -> Column:
    """Pairwise-balanced sum of integer Columns: depth log2(n) instead
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
        return F.lit(0).cast("long")
    while len(terms) > 1:
        nxt = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
        terms = nxt
    return terms[0]


def dot_fixed_long(a: Column | str, b: Column | str, dim: int) -> Column:
    """EXACT integer dot product for a KNOWN dimension, unrolled to
    flat codegen'd long arithmetic — for micro-scaled integer vectors
    whose oracles restate the same BIGINT sum (``dot_fixed`` would be
    value-exact here too since every intermediate stays under 2^53,
    but long-typed terms keep the plan's type story identical to the
    oracle's and free of float casts). Terms combine as a BALANCED
    tree (see _balanced_sum) so whole-stage codegen survives the
    64-term unroll."""
    def build():
        ca = F.col(a) if isinstance(a, str) else a
        cb = F.col(b) if isinstance(b, str) else b
        return _balanced_sum(
            [F.element_at(ca, i) * F.element_at(cb, i) for i in range(1, dim + 1)]
        )

    return _memo_fixed(("dot_fixed_long", a, b, dim), build, a, b)


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


def dist2_fixed_long(a: Column | str, b: Column | str, dim: int) -> Column:
    """EXACT integer squared L2 distance for a KNOWN dimension,
    unrolled with the balanced-tree combine (see ``dot_fixed_long``)."""
    def build():
        ca = F.col(a) if isinstance(a, str) else a
        cb = F.col(b) if isinstance(b, str) else b

        def term(i: int) -> Column:
            d = F.element_at(ca, i) - F.element_at(cb, i)
            return d * d

        return _balanced_sum([term(i) for i in range(1, dim + 1)])

    return _memo_fixed(("dist2_fixed_long", a, b, dim), build, a, b)


def norm_fixed(a: Column | str, dim: int) -> Column:
    """L2 norm for a KNOWN dimension (unrolled; see ``dot_fixed``)."""
    def build():
        ca = F.col(a) if isinstance(a, str) else a
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            x = F.element_at(ca, i).cast("double")
            acc = acc + x * x
        return F.sqrt(acc)

    return _memo_fixed(("norm_fixed", a, dim), build, a)


def cosine_fixed(a: Column | str, b: Column | str, dim: int) -> Column:
    """Cosine for a KNOWN dimension (unrolled; see ``dot_fixed``)."""
    def build():
        d = dot_fixed(a, b, dim)
        denom = norm_fixed(a, dim) * norm_fixed(b, dim)
        return F.when(denom > 0, d / denom).otherwise(F.lit(None))

    return _memo_fixed(("cosine_fixed", a, b, dim), build, a, b)


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
