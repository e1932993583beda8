"""Property checks (SURVEY.md §5.2 layer 3) — invariants SQL oracles
can't express, driven by hypothesis against a Java-semantics model.

Each property runs ONE Spark job over a hypothesis-generated batch
(a per-example job would make shrinking unusably slow), comparing
Spark's column expressions against a pure-Python reimplementation of
the reference semantics (Main.java:535-547 split, Main.java:619-635
date regex, GcdStoryCredit.java:62-97 credit expansion).
"""

from __future__ import annotations

import re

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from gcd_etl_spark.functions.scalar import (
    date_str_to_int,
    dict_decode,
    multi_split,
    sql_str,
    try_int,
)
from gcd_etl_spark.functions.text import shingles
from gcd_etl_spark.gcd.credits import ATOMIC_FIELDS, CREDIT_TYPE_EXPANSION
from gcd_etl_spark.sources.dump import sql_literal


# Java's \s without UNICODE_CHARACTER_CLASS is ASCII-only
# [ \t\n\x0b\f\r]; Python's \s also matches U+0085 NEL, U+00A0 NBSP,
# and the Unicode space category. Hypothesis found ';\x85': the
# Python-\s model returned [] where Java (and the engine, correctly)
# returns ['', '\x85']. Model the Java class explicitly, as
# _java_date_int already does for \d.
_JAVA_WS = r"[ \t\n\x0b\f\r]"


def _java_split(value: str) -> list[str]:
    """Java ``value.split("\\s*;\\s*")``: trailing empties dropped,
    empty input -> [""]."""
    parts = re.split(rf"{_JAVA_WS}*;{_JAVA_WS}*", value)
    while len(parts) > 1 and parts[-1] == "":
        parts.pop()
    if parts == [""] and value != "":
        return []
    return parts


def _java_date_int(value: str | None) -> int:
    # Java's \d is ASCII-only ([0-9]) without UNICODE_CHARACTER_CLASS;
    # Python's \d matches all Unicode digits — model the Java one.
    if value is None:
        return -1
    m = re.fullmatch(r"([0-9]{4})-([0-9][0-9])-([0-9][0-9])", value)
    if not m:
        return -1
    return int(m.group(1)) * 10000 + int(m.group(2)) * 100 + int(m.group(3))


# Printable text without NUL; semicolons and whitespace very welcome.
_texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=25,
)


@settings(max_examples=30, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=40))
# pinned r3 regression: U+0085 NEL is Python-\s but NOT Java-\s —
# ';\x85' splits to ['', '\x85'], not []
@example([";\x85", "\xa0;\xa0", "a\x85;b"])
def test_multi_split_matches_java_semantics(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r[0] for r in df.select(F.expr(multi_split("v"))).collect()]
    want = [_java_split(v) for v in values]
    assert got == want


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            _texts,
            st.dates().map(lambda d: d.isoformat()),
            st.from_regex(r"[0-9]{4}-[0-9][0-9]-[0-9][0-9]", fullmatch=True),
            # trailing line terminator: Java-regex $ would still match
            # here, \z must not (the date_str_to_int $-anchor bug)
            st.dates().map(lambda d: d.isoformat() + "\n"),
            st.dates().map(lambda d: d.isoformat() + "\r\n"),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_date_str_to_int_matches_java_semantics(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r[0] for r in df.select(F.expr(date_str_to_int("v", sentinel=-1))).collect()]
    want = [_java_date_int(v) for v in values]
    assert got == want


@settings(max_examples=30, deadline=None)
@given(st.lists(st.one_of(_texts, st.integers().map(str)), min_size=1, max_size=40))
def test_try_int_matches_java_semantics(spark, values):
    def engine_parse(v: str):
        # The engine's stand-in for silent Integer.parseInt failure is
        # Spark's non-ANSI cast: trim chars <= 0x20 (UTF8String.trimAll
        # — NOT Unicode whitespace), then ASCII sign+digits in int32
        # range. Delta vs Java kept deliberately: parseInt(" 5") throws
        # but both Spark and the DuckDB oracle's TRY_CAST trim, so the
        # engine standardizes on the trimmed parse.
        v = v.strip("".join(chr(i) for i in range(0x21)))
        if not re.fullmatch(r"[+-]?[0-9]+", v):
            return None
        n = int(v)
        return n if -(2**31) <= n < 2**31 else None

    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = [r[0] for r in df.select(F.expr(try_int("v"))).collect()]
    want = [engine_parse(v) for v in values]
    assert got == want


def _shingles_model(value: str | None, k: int) -> list[str]:
    """Spark ``trim`` (spaces only), split on Java's ASCII ``\\s+``,
    drop empties; distinct k-grams in first-occurrence order; NULL ->
    []."""
    if value is None:
        return []
    toks = [t for t in re.split(f"{_JAVA_WS}+", value.strip(" ")) if t]
    grams = (" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
    return list(dict.fromkeys(grams))


_SHINGLE_KS = (1, 2, 3, 5)

# Few distinct words so grams repeat (array_distinct is exercised),
# joined by runs of every Java-\s character plus look-alikes it must
# NOT split on (NBSP, NEL).
_shingle_texts = st.lists(
    st.one_of(
        st.sampled_from(["a", "b", "cd", "\xa0", "\x85"]),
        st.text(alphabet=" \t\n\x0b\f\r", min_size=1, max_size=3),
    ),
    max_size=16,
).map("".join)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.one_of(st.none(), _shingle_texts, _texts), min_size=1, max_size=30))
@example([None, "", "   ", "\ta b c", "a a a a a a", "a b a b a b"])
def test_shingles_match_python_model(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = df.select(*[F.expr(shingles("v", k)) for k in _SHINGLE_KS]).collect()
    got = [list(r) for r in rows]
    want = [[_shingles_model(v, k) for k in _SHINGLE_KS] for v in values]
    assert got == want


# Text built to stress a SQL string literal: quotes, backslashes,
# \u-like and octal-like escapes, LIKE wildcards, NUL, CR/LF and
# non-BMP characters, mixed with arbitrary non-surrogate characters.
_literal_texts = st.lists(
    st.one_of(
        st.sampled_from(
            ["'", '"', "\\", "\\u", "u0041", "%", "_", "\x00", "\r", "\n", "0", "12", "\U0001f600"]
        ),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=12,
).map("".join)


@settings(max_examples=30, deadline=None)
@given(st.lists(_literal_texts, min_size=1, max_size=20))
@example(["\x0012", "\\u0041", "\\012", "it's", "100%_", "a\r\nb", "\U0001f600", "\\", ""])
def test_sql_str_reads_back_and_decodes_exactly(spark, values):
    """``sql_str`` is the one Spark-SQL string quoting function: every
    value reads back through Spark SQL unchanged, and ``dict_decode``
    over such values decodes each key to exactly its value (a miss
    stays NULL)."""
    exprs = ", ".join(f"{sql_str(v)} AS c{i}" for i, v in enumerate(values))
    assert list(spark.sql(f"SELECT {exprs}").first()) == values
    decode = dict_decode("CAST(id AS INT)", dict(enumerate(values)))
    got = [r[0] for r in spark.range(len(values) + 1).selectExpr(decode).collect()]
    assert got == values + [None]


def test_dump_literal_is_not_a_spark_sql_literal(spark):
    """The mysqldump writer's ``sql_literal`` escapes NUL as ``\\0``;
    Spark SQL reads ``\\0`` plus two octal digits as ONE octal escape,
    so NUL followed by "12" comes back as a newline. That is why the
    Spark-side quoting function is ``sql_str``, not ``sql_literal``."""
    value = "\x0012"
    assert spark.sql(f"SELECT {sql_literal(value)}").first()[0] == "\n"
    assert spark.sql(f"SELECT {sql_str(value)}").first()[0] == value


def test_credit_expansion_composites_are_atomic_unions():
    """The reference's recursive addCredit (GcdStoryCredit.java:85-97)
    means every composite's expansion IS the union of its parts'
    expansions — and only atomic fields ever appear."""
    atomic = {tid: fields for tid, fields in CREDIT_TYPE_EXPANSION.items() if len(fields) == 1}
    for tid, fields in CREDIT_TYPE_EXPANSION.items():
        assert len(fields) == len(set(fields)), f"type {tid} repeats a field"
        assert set(fields) <= set(ATOMIC_FIELDS)
        # each expanded field is some atomic type's expansion
        for f in fields:
            assert any(a == [f] for a in atomic.values())
    # the reference's specific composite table, spot-checked
    assert set(CREDIT_TYPE_EXPANSION[13]) == (
        set(CREDIT_TYPE_EXPANSION[10]) | set(CREDIT_TYPE_EXPANSION[4]) | set(CREDIT_TYPE_EXPANSION[5])
    )
