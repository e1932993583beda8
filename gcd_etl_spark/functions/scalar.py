"""Scalar expression library — the reference's per-row helpers as
pure Catalyst expressions (SURVEY.md §2.8, F1-F13).

Every helper takes Spark SQL expression TEXT (a column name is the
simplest expression) and returns expression text: JVM-side,
whole-stage-codegen'd, no Python in the hot path. A projection built
from them reaches the JVM as SQL text in one ``selectExpr`` call (or
one ``F.expr`` per Column), instead of about ten py4j round trips per
``pyspark.sql.functions`` call. Reference citations give the exact
semantics each preserves.
"""

from __future__ import annotations

#: Split pattern for multi-valued fields (reference Main.java:539:
#: ``value.split("\\s*;\\s*")``).
MULTI_VALUE_PATTERN = r"\s*;\s*"

#: Missing-value sentinel for int date/count fields on the index path
#: (reference Main.java:589-601,626-650).
INT_SENTINEL = -1


def sql_str(s: str) -> str:
    """Spark SQL string literal that reads back as exactly ``s``.

    The Spark SQL lexer takes any character inside quotes; only the
    backslash (escape lead) and the quote itself need escaping. The
    mysqldump writer's ``sources.dump.sql_literal`` is a different
    dialect: its ``\\0`` for NUL reads back in Spark as an octal
    escape when two octal digits follow (``'\\x0012'`` becomes a
    newline) — tests/test_properties.py pins both facts.
    """
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _int_or_null(sentinel: int | None) -> str:
    return f"CAST({'NULL' if sentinel is None else int(sentinel)} AS INT)"


def multi_split(expr: str) -> str:
    """F2 — semicolon-delimited string -> array<string>.

    Java ``split`` drops trailing empty strings; Spark ``split`` keeps
    them, so we trim the trailing run explicitly. Null input
    propagates to a null array (reference Main.java:535-547: null ->
    consumer never called).

    Whitespace-class corner (hypothesis-found, r3): the pattern's
    ``\\s`` is JAVA's ASCII-only class ``[ \\t\\n\\x0b\\f\\r]`` —
    Spark compiles regexes with java.util.regex, so this matches the
    reference byte-for-byte. Python's ``\\s`` additionally matches
    U+0085/U+00A0/Unicode spaces, so ``';\\x85'`` splits to
    ``['', '\\x85']`` here (correct) but ``[]`` under a naive Python
    model — any Python-side model of this function must spell the
    ASCII class out (tests/test_properties.py).
    """
    # ONE regex pass (the split), then drop Java's trailing empties on
    # the ARRAY side: a per-element index transform + array_max finds
    # the last non-empty slot, slice keeps [1 .. last+1]. The elements
    # are few (~2-5) while the string is long, so the interpreted
    # element fold costs far less than a second regex pass over the
    # characters — a strip-the-string-first variant (regexp_replace of
    # the trailing (\s*;\s*)+\z run, re-evaluated by its CASE guard)
    # measured ~2x slower across the snapshot build's 10 splits.
    # Covers all Java corners: "a;;b" keeps the inner empty (only the
    # tail trims), all-separator input (";", " ; ") has no non-empty
    # slot -> last_idx -1 -> slice length 0 -> []; "\r" has no
    # separator at all -> single non-empty element kept.
    arr = f"split({expr}, {sql_str(MULTI_VALUE_PATTERN)})"
    last_idx = f"array_max(transform({arr}, (x, i) -> CASE WHEN x != '' THEN i ELSE -1 END))"
    # Java `"".split(p)` returns [""], not [] — preserve that corner.
    return f"CASE WHEN ({expr}) = '' THEN array('') ELSE slice({arr}, 1, {last_idx} + 1) END"


def date_str_to_int(expr: str, sentinel: int | None = INT_SENTINEL) -> str:
    """F3 — ``YYYY-MM-DD``-shaped string -> yyyymmdd int.

    Full-string regex match ``(\\d{4})-(\\d\\d)-(\\d\\d)`` (reference
    Main.java:46,619-635 uses ``Matcher.matches()`` — FULL match, so
    trailing garbage fails); no calendar validation ("1987-00-00" is a
    *match* in the reference and becomes 19870000 — we preserve that).
    Non-match / null -> ``sentinel`` (-1 on the index path, None for
    nullable parquet semantics).
    """
    # \A...\z, not ^...$: Java-regex $ matches BEFORE a final line
    # terminator, so "1987-03-01\n" would wrongly parse; the
    # reference's Matcher.matches() is whole-input. Same bug class as
    # multi_split's trailing-separator trim above.
    pattern = sql_str(r"\A\d{4}-\d{2}-\d{2}\z")
    as_int = f"CAST(regexp_replace(substring({expr}, 1, 10), '-', '') AS INT)"
    return f"CASE WHEN ({expr}) RLIKE {pattern} THEN {as_int} ELSE {_int_or_null(sentinel)} END"


def epoch_to_date_int(expr: str, sentinel: int | None = INT_SENTINEL) -> str:
    """F4 — epoch seconds -> comparable yyyymmdd int (UTC).

    Reference Main.java:48,637-650: epoch > 0 formats with
    ``SimpleDateFormat("yMMdd")`` in JVM-default TZ; we pin UTC
    (session TZ) and document the delta. <=0 / null -> sentinel.
    """
    # Integer date math instead of date_format: no per-row string
    # round-trip (the flagship stamps 14 of these per output row).
    ts = f"timestamp_seconds({expr})"
    formatted = f"CAST(year({ts}) * 10000 + month({ts}) * 100 + dayofmonth({ts}) AS INT)"
    return f"CASE WHEN ({expr}) > 0 THEN {formatted} ELSE {_int_or_null(sentinel)} END"


def try_int(expr: str) -> str:
    """F7 — try-parse string -> int, null on failure.

    Reference Main.java:253-258: ``Integer.parseInt`` with the
    NumberFormatException swallowed. ``try_cast`` gives identical
    parse-or-null semantics without ANSI exceptions.
    """
    return f"try_cast({expr} AS INT)"


def int_to_bool(expr: str) -> str:
    """F8 — ``value == 1`` int flag -> boolean (null-propagating).

    Reference Main.java:410,420,423-424,434,450 (parquet path only;
    the index path keeps raw ints — callers choose).
    """
    return f"({expr}) = 1"


def int_with_default(expr: str, default: int = INT_SENTINEL) -> str:
    """P5 — missing int -> sentinel fill (reference Main.java:589-601)."""
    return f"coalesce(CAST({expr} AS INT), {int(default)})"


def string_with_default(expr: str, default: str = "") -> str:
    """P4 — Avro ``default:""`` strings (reference issue_data.avsc:8,11)."""
    return f"coalesce({expr}, {sql_str(default)})"


def dict_decode(expr: str, mapping: dict[int, str | None]) -> str:
    """F9/J9 — tiny-dictionary decode as a literal map expression.

    Reference GcdMetadata loaded 4 dimension tables into RAM maps and
    probed per row (reference GcdMetadata.java:74-86, Main.java:549-558,
    emit-only-on-hit -> miss decodes to null). For dictionaries that
    fit in a literal (<~1000 entries) an inline ``map`` keeps the
    decode inside codegen; bigger dims should use ``broadcast_decode``.
    """
    if not mapping:
        return "CAST(NULL AS STRING)"
    pairs = ", ".join(
        f"{int(k)}, {'NULL' if v is None else sql_str(v)}" for k, v in mapping.items()
    )
    return f"element_at(map({pairs}), {expr})"


def date_int_from_date(expr: str, sentinel: int | None = None) -> str:
    """yyyymmdd int from a date/timestamp column (engine extension:
    same output domain as F3/F4 but for properly-typed inputs)."""
    out = f"CAST(date_format({expr}, 'yyyyMMdd') AS INT)"
    if sentinel is not None:
        out = f"coalesce({out}, {int(sentinel)})"
    return out


def snapshot_int(run_date: str) -> int:
    """F6 — run date ``YYYY-MM-DD`` -> snapshot partition value
    (reference Main.java:383)."""
    return int(run_date.replace("-", ""))
