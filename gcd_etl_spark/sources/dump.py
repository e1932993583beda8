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
      -> read back, declared schema  # no schema-inference job

Why line-splitting is safe: ``mysqldump`` emits one (extended) INSERT
statement per line and escapes newlines inside string literals as
``\n`` (two characters), so statement boundaries always coincide with
line boundaries — each executor tokenizes its own lines with no
cross-partition state. The tokenizer is Python, but it is the ingest
path (run once per dump, Arrow-batched); every downstream query runs
on the staged parquet.

At fixture scale a staged table costs its fixed overhead, not its
tokenizing: the whole 13-table benchmark dump tokenizes in ~0.15 s of
pure Python, while each ``stage_dump_table`` call pays a text scan, a
Python task per split and a parquet write. So a call runs ONE Spark
job (the read-back takes the declared schema instead of inferring it),
builds its casts as one SQL-text projection, and its tokenizer body is
wrapped in ``session.python_task``, which drops the worker's zip
importers when the task exits. Without that, each Python task in the
worker would start by re-reading the directories of ``pyspark.zip``,
the py4j zip, the spark-core jar and the package zip ``get_spark``
ships: ~220 ms of worker CPU per task, where a benchmark-scale
tokenizer task's own work is a few tens of ms.

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

from gcd_etl_spark.session import python_task

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


def _skip_ws(s: str, i: int) -> int:
    while i < len(s) and s[i].isspace():
        i += 1
    return i


def insert_header(line: str) -> tuple[str | None, int]:
    """(table name, index just past VALUES) of an ``INSERT INTO`` line.

    The name is None when the line is not an INSERT statement (or its
    backticked name is unterminated). The offset is -1 when the header
    has no VALUES keyword — a line cut inside its header.

    The scan walks ``INSERT INTO``, the (possibly backticked) table
    identifier and an optional ``--complete-insert`` column list BEFORE
    looking for VALUES, so a table or column name that itself contains
    "values" (``order_values``, a column named ```values```) is never
    mistaken for the keyword. Backtick and paren
    context is tracked through the column list.
    """
    n = len(line)
    i = _skip_ws(line, 0)
    if line[i : i + 11].upper() != "INSERT INTO":
        return None, -1
    i = _skip_ws(line, i + 11)
    if line.startswith("`", i):  # backticked table identifier
        j = line.find("`", i + 1)
        if j < 0:
            return None, -1
        name, i = line[i + 1 : j], j + 1
    else:  # bare identifier
        j = i
        while j < n and line[j] not in " \t(":
            j += 1
        if j == i:
            return None, -1
        name, i = line[i:j], j
    i = _skip_ws(line, i)
    if line.startswith("(", i):  # --complete-insert column list
        depth, in_backtick = 0, False
        while i < n:
            c = line[i]
            i += 1
            if in_backtick:
                in_backtick = c != "`"
            elif c == "`":
                in_backtick = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
        else:
            return name, -1
    i = _skip_ws(line, i)
    if line[i : i + 6].upper() != "VALUES":
        return name, -1
    return name, i + 6


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


def _iter_tuples(line: str, i: int) -> Iterator[tuple[list[str | None], bool]]:
    """Yield (fields, closed) for each VALUES tuple of one INSERT line,
    from ``i`` = the offset ``insert_header`` returned; only the last
    tuple of a cut-off line can be unclosed."""
    n = len(line)
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
    _, v = insert_header(line)
    if v >= 0:
        for fields, closed in _iter_tuples(line, v):
            if closed:
                yield fields


def parse_insert_lines(
    lines: DataFrame,
    table: str,
    schema: T.StructType,
    metrics: dict | None = None,
) -> DataFrame:
    """Distributed tokenize + cast: INSERT lines (a ``value`` string
    column) -> one typed row per VALUES tuple of ``table``.

    Executor-local per line — no shuffle; parallelism is the
    text-split count. String->type casts follow the engine's try-cast
    discipline (reference Main.java:253-258 silently nulls unparseable
    ints): a malformed field becomes NULL, never a job abort.

    Line selection is ONE predicate, not two (round-2 ADVICE): a
    cheap, case/whitespace-tolerant JVM prefilter prunes the scan,
    then ``insert_header`` decides authoritatively per line. Nothing
    is dropped silently — every line or tuple that is not staged
    counts in one Spark accumulator (pass ``metrics={}`` to receive
    them; values are final after any action on the result):

    * ``other_table_lines`` — prefilter-survivor lines of other tables;
    * ``arity_mismatch_tuples`` — tuples whose field count is not
      ``len(schema.fields)``: quarantined, never null-padded;
    * ``truncated_tuples`` — tuples cut off before their closing
      ``)`` (quarantined even when the arity happens to match), and
      lines of ``table`` cut inside their header, before VALUES.
    """
    sc = lines.sparkSession.sparkContext
    other_table = sc.accumulator(0)
    arity_mismatch = sc.accumulator(0)
    truncated = sc.accumulator(0)
    if metrics is not None:
        metrics["other_table_lines"] = other_table
        metrics["arity_mismatch_tuples"] = arity_mismatch
        metrics["truncated_tuples"] = truncated
    arity = len(schema.fields)

    # Coarse JVM-side prefilter (codegen, pushed to the text scan):
    # tolerant of leading whitespace and lowercase INSERT, requires the
    # table name somewhere on the line. May overmatch (another table's
    # line containing this name as data) — the tokenizer below settles
    # it with the shared predicate.
    head = F.upper(F.ltrim(F.col("value")))
    filtered = lines.where(head.startswith("INSERT INTO") & F.col("value").contains(table))

    @python_task
    def _tok(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[list[str | None]] = []
            for ln in pdf["value"]:
                name, v = insert_header(ln)
                if name != table:
                    other_table.add(1)
                    continue
                if v < 0:
                    truncated.add(1)
                    continue
                for tup, closed in _iter_tuples(ln, v):
                    if not closed:
                        truncated.add(1)
                    elif len(tup) != arity:
                        arity_mismatch.add(1)
                    else:
                        out.append(tup)
            if out:  # a batch may be all-skips; yield nothing then
                yield pd.DataFrame({"fields": out})

    parsed = filtered.mapInPandas(_tok, schema="fields array<string>")
    # One SQL-text projection: Column-by-Column casts cost ~60 gateway
    # round trips per field to build.
    return parsed.selectExpr(
        *[
            f"try_cast(fields[{i}] AS {fld.dataType.simpleString()})"
            f" AS `{fld.name.replace('`', '``')}`"
            for i, fld in enumerate(schema.fields)
        ]
    )


def stage_dump_table(
    spark: SparkSession,
    dump: str | DataFrame,
    table: str,
    schema: T.StructType,
    out_path: str | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Parse one table out of a mysqldump file into a typed DataFrame.

    ``dump`` is a path for ``spark.read.text`` (a file or a directory
    of dump files; splittable; gz works but is one split — prefer
    uncompressed/zstd-seekable at scale) or an already-loaded
    single-column DataFrame. With ``out_path`` the result is also
    written as snappy parquet staging and read back with the typed
    schema (every column nullable, as parquet inference would give),
    so the call runs one Spark job: the write. Pass ``metrics={}`` to
    receive the tokenizer's dropped-line/tuple accumulators (see
    ``parse_insert_lines``).
    """
    lines = spark.read.text(dump) if isinstance(dump, str) else dump
    typed = parse_insert_lines(lines, table, schema, metrics=metrics)
    if out_path:
        typed.write.mode("overwrite").parquet(out_path)
        return spark.read.schema(typed.schema).parquet(out_path)
    return typed


def stage_tsv_table(
    spark: SparkSession, path: str, schema: T.StructType, out_path: str | None = None
) -> DataFrame:
    """``mysqldump --tab`` TSV export -> typed DataFrame (S1 fast path).
    With ``out_path`` the staged parquet reads back with the declared
    schema, like ``stage_dump_table``: no schema-inference job."""
    df = spark.read.csv(path, sep="\t", nullValue="\\N", schema=schema)
    if out_path:
        df.write.mode("overwrite").parquet(out_path)
        return spark.read.schema(df.schema).parquet(out_path)
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
