r"""MySQL-dump staging source (SURVEY.md §2.1 S1/S2, 100 TB posture).

The reference's pipeline starts from the nightly GCD MySQL dump: the
dump is loaded into a MySQL server out-of-band and the ETL re-reads it
over one forward-only JDBC cursor (reference Main.java:128-132,
245-247). At 100 TB the database round-trip IS the bottleneck — so the
engine parses dump text DIRECTLY in executors and stages it to
parquet, no database in the path:

    spark.read.text(dump)            # splittable line-oriented scan
      .filter(INSERT INTO `t`)       # pushed string predicate
      -> mapInPandas tuple tokenizer # Arrow-batched, per-slice local
      -> cast to declared schema     # try_cast semantics, typed nulls
      -> write partitioned parquet   # all analytics run off staging

Why line-splitting is safe: ``mysqldump`` emits one (extended) INSERT
statement per line and escapes newlines inside string literals as
``\n`` (two characters), so statement boundaries always coincide with
line boundaries — each executor tokenizes its own lines with no
cross-partition state. The tokenizer is Python, but it is the ingest
path (run once per dump, Arrow-batched); every downstream query runs
on the staged parquet.

``mysqldump --tab`` TSV exports need none of this: read them with
``spark.read.csv(sep="\t", nullValue="\\N")`` (`stage_tsv_table`).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# MySQL string-literal escapes (mysqldump output set).
_UNESCAPE = {
    "0": "\0",
    "'": "'",
    '"': '"',
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "t": "\t",
    "Z": "\x1a",
    "\\": "\\",
    "%": "\\%",  # \% and \_ stay literal per MySQL semantics
    "_": "\\_",
}
_ESCAPE = {
    "\0": "\\0",
    "'": "\\'",
    "\b": "\\b",
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "\x1a": "\\Z",
    "\\": "\\\\",
}


def insert_table_name(line: str) -> str | None:
    """Table name of an ``INSERT INTO`` statement line, else None."""
    s = line.lstrip()
    if not s.upper().startswith("INSERT INTO"):
        return None
    rest = s[len("INSERT INTO") :].lstrip()
    if rest.startswith("`"):
        end = rest.find("`", 1)
        return rest[1:end] if end > 0 else None
    for i, ch in enumerate(rest):
        if ch in " (\t":
            return rest[:i]
    return rest or None


def _parse_tuple(text: str, i: int) -> tuple[list[str | None], int, bool]:
    """Parse one ``(...)`` tuple starting at ``text[i] == '('``.

    Returns (fields, index-after-close-paren, closed). Fields are raw
    strings (escapes decoded) or None for NULL. Handles quoted strings
    with backslash escapes and ``''`` doubling, bare numeric tokens,
    and nested commas/parens inside quotes. ``closed`` is False when
    the text ends before the tuple's ``)`` — a cut-off line, including
    one cut inside a quoted string (a ``)`` inside quotes never closes
    the tuple, so reaching ``)`` implies every quote was closed).
    """
    fields: list[str | None] = []
    n = len(text)
    i += 1  # consume '('
    while i < n:
        ch = text[i]
        if ch in " \t":
            i += 1
        elif ch == "'":
            buf: list[str] = []
            i += 1
            while i < n:
                c = text[i]
                if c == "\\" and i + 1 < n:
                    buf.append(_UNESCAPE.get(text[i + 1], text[i + 1]))
                    i += 2
                elif c == "'":
                    if i + 1 < n and text[i + 1] == "'":  # '' doubling
                        buf.append("'")
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    buf.append(c)
                    i += 1
            fields.append("".join(buf))
        elif ch == ")":
            return fields, i + 1, True
        elif ch == ",":
            i += 1
        else:  # bare token: number, NULL, hex, etc.
            j = i
            while j < n and text[j] not in ",)":
                j += 1
            tok = text[i:j].strip()
            fields.append(None if tok.upper() == "NULL" else tok)
            i = j
    return fields, i, False


def _values_start(line: str) -> int:
    """Index just past the statement's VALUES keyword, or -1.

    Scans past ``INSERT INTO``, the (possibly backticked) table
    identifier, and an optional ``--complete-insert`` column list
    BEFORE looking for VALUES — so a table or column name that itself
    contains the substring "values" (e.g. ``order_values``, a column
    named ```values```) can never be mistaken for the keyword
    (round-2 ADVICE). Backtick and paren context is tracked through
    the column list.
    """
    s, n = line, len(line)
    i = 0
    while i < n and s[i] in " \t":
        i += 1
    if not s[i : i + 11].upper().startswith("INSERT INTO"):
        return -1
    i += 11
    while i < n and s[i] in " \t":
        i += 1
    if i < n and s[i] == "`":  # backticked table identifier
        j = s.find("`", i + 1)
        if j < 0:
            return -1
        i = j + 1
    else:  # bare identifier
        while i < n and s[i] not in " \t(":
            i += 1
    while i < n and s[i] in " \t":
        i += 1
    if i < n and s[i] == "(":  # --complete-insert column list
        depth, in_backtick = 0, False
        while i < n:
            c = s[i]
            if in_backtick:
                if c == "`":
                    in_backtick = False
            elif c == "`":
                in_backtick = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    i += 1
                    break
            i += 1
        else:
            return -1
    while i < n and s[i] in " \t":
        i += 1
    if s[i : i + 6].upper() == "VALUES":
        return i + 6
    return -1


def _iter_tuples(line: str) -> Iterator[tuple[list[str | None], bool]]:
    """Yield (fields, closed) for each VALUES tuple of one INSERT line;
    only the last tuple of a cut-off line can be unclosed."""
    v = _values_start(line)
    if v < 0:
        return
    i, n = v, len(line)
    while i < n:
        if line[i] == "(":
            fields, i, closed = _parse_tuple(line, i)
            yield fields, closed
        elif line[i] == ";":
            return
        else:
            i += 1


def iter_insert_tuples(line: str) -> Iterator[list[str | None]]:
    """Yield each complete VALUES tuple of one INSERT statement line.
    A truncated trailing tuple (the line ends before its ``)``) is
    dropped, never yielded as a row."""
    for fields, closed in _iter_tuples(line):
        if closed:
            yield fields


def parse_insert_lines(
    lines: DataFrame,
    table: str,
    value_col: str = "value",
    expect_arity: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Distributed tokenize: INSERT lines -> one row per VALUES tuple.

    Output schema: ``fields array<string>`` (NULL elements for SQL
    NULL). Executor-local per line — no shuffle; parallelism is the
    text-split count.

    Line selection is ONE predicate, not two (round-2 ADVICE): a
    cheap, case/whitespace-tolerant JVM prefilter prunes the scan,
    then ``insert_table_name`` — the same tokenizer used everywhere —
    decides authoritatively per line. Nothing is dropped silently:
    pass ``metrics={}`` to receive Spark accumulators counting
    prefilter-survivor lines that belong to other tables
    (``other_table_lines``), tuples whose field count does not match
    ``expect_arity`` (``arity_mismatch_tuples`` — quarantined, never
    silently null-padded) and tuples cut off before their closing
    ``)`` (``truncated_tuples`` — quarantined even when the arity
    happens to match). Accumulator values are final after any action
    on the result.
    """
    sc = lines.sparkSession.sparkContext
    other_table = sc.accumulator(0)
    arity_mismatch = sc.accumulator(0)
    truncated = sc.accumulator(0)
    if metrics is not None:
        metrics["other_table_lines"] = other_table
        metrics["arity_mismatch_tuples"] = arity_mismatch
        metrics["truncated_tuples"] = truncated

    # Coarse JVM-side prefilter (codegen, pushed to the text scan):
    # tolerant of leading whitespace and lowercase INSERT, requires the
    # table name somewhere on the line. May overmatch (another table's
    # line containing this name as data) — the tokenizer below settles
    # it with the shared predicate.
    head = F.upper(F.ltrim(F.col(value_col)))
    filtered = lines.where(
        head.startswith("INSERT INTO") & F.col(value_col).contains(table)
    )

    def _tok(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[list[str | None]] = []
            for ln in pdf[value_col]:
                if insert_table_name(ln) != table:
                    other_table.add(1)
                    continue
                for tup, closed in _iter_tuples(ln):
                    if not closed:
                        truncated.add(1)
                        continue
                    if expect_arity is not None and len(tup) != expect_arity:
                        arity_mismatch.add(1)
                        continue
                    out.append(list(tup))
            if out:  # a batch may be all-skips; yield nothing then
                yield pd.DataFrame({"fields": out})

    return filtered.mapInPandas(_tok, schema="fields array<string>")


def cast_fields(parsed: DataFrame, schema: T.StructType, strict: bool = True) -> DataFrame:
    """Raw string tuples -> typed columns per the declared schema.

    String->type casts follow the engine's try-cast discipline
    (reference Main.java:253-258 silently nulls unparseable ints):
    ``try_cast`` so a malformed field becomes NULL, never a job abort
    — the P6 row-level error-containment semantic, column-level.

    ``strict`` (default) additionally drops tuples whose field count
    differs from the schema — a truncated tuple must not masquerade as
    legitimate NULLs (round-2 ADVICE). The canonical ingest path
    (``stage_dump_table``) already quarantines + counts these in the
    tokenizer; this filter is the defense for direct callers.
    """
    if strict:
        parsed = parsed.where(F.size("fields") == len(schema.fields))
    cols = [
        F.col("fields").getItem(i).try_cast(fld.dataType).alias(fld.name)
        for i, fld in enumerate(schema.fields)
    ]
    return parsed.select(*cols)


def stage_dump_table(
    spark: SparkSession,
    dump: str | DataFrame,
    table: str,
    schema: T.StructType,
    out_path: str | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Parse one table out of a mysqldump file into a typed DataFrame.

    ``dump`` is a path for ``spark.read.text`` (splittable; gz works
    but is one split — prefer uncompressed/zstd-seekable at scale) or
    an already-loaded single-column DataFrame. With ``out_path`` the
    result is also written as snappy parquet staging. Pass
    ``metrics={}`` to receive the tokenizer's dropped-line/tuple
    accumulators (see ``parse_insert_lines``).
    """
    lines = spark.read.text(dump) if isinstance(dump, str) else dump
    parsed = parse_insert_lines(
        lines, table, expect_arity=len(schema.fields), metrics=metrics
    )
    typed = cast_fields(parsed, schema)
    if out_path:
        typed.write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path)
    return typed


def stage_tsv_table(
    spark: SparkSession, path: str, schema: T.StructType, out_path: str | None = None
) -> DataFrame:
    """``mysqldump --tab`` TSV export -> typed DataFrame (S1 fast path)."""
    df = spark.read.csv(path, sep="\t", nullValue="\\N", schema=schema)
    if out_path:
        df.write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path)
    return df


# ------------------------------------------------------------------
# Dump WRITER — used by tests/round-trip oracles to synthesize dumps
# byte-compatible with the parser above (and a capability in its own
# right: emit mysqldump-format text from any DataFrame).


def sql_literal(v: object) -> str:
    """One value -> MySQL literal text (mysqldump conventions).

    Non-finite floats map to NULL explicitly: MySQL DOUBLE cannot hold
    inf/nan (mysqldump never emits them), and ``repr()``'s
    'inf'/'nan' spellings would be silently nulled by the reader's
    try_cast — an invisible corruption instead of a declared one
    (round-2 ADVICE).
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float) and not math.isfinite(v):
        return "NULL"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v)
    return "'" + "".join(_ESCAPE.get(c, c) for c in s) + "'"


def format_insert_statements(
    table: str, rows: Iterable[tuple], rows_per_statement: int = 100
) -> list[str]:
    """Rows -> extended-INSERT statement lines (one per line)."""
    out: list[str] = []
    batch: list[str] = []
    for row in rows:
        batch.append("(" + ",".join(sql_literal(v) for v in row) + ")")
        if len(batch) >= rows_per_statement:
            out.append(f"INSERT INTO `{table}` VALUES " + ",".join(batch) + ";")
            batch = []
    if batch:
        out.append(f"INSERT INTO `{table}` VALUES " + ",".join(batch) + ";")
    return out
