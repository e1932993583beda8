"""Unit tests for the scalar library's reference-exact semantics
(SURVEY.md §2.8) on synthetic edge cases the fixtures don't cover."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcd_etl_spark.functions import scalar
from gcd_etl_spark.functions.text import shingles, ws_tokens


def _one_col(spark, values, dtype="string"):
    return spark.createDataFrame([(v,) for v in values], schema=f"v {dtype}")


def test_multi_split_java_semantics(spark):
    """Java String.split: trailing empties dropped, inner empties kept,
    empty input -> [''], null -> null (reference Main.java:535-547)."""
    df = _one_col(spark, ["a ; b;c", "a; b;", "a;;b", "", ";;", None, "  x  "])
    out = [r[0] for r in df.select(F.expr(scalar.multi_split("v"))).collect()]
    assert out[0] == ["a", "b", "c"]
    assert out[1] == ["a", "b"]
    assert out[2] == ["a", "", "b"]
    assert out[3] == [""]
    assert out[4] == []
    assert out[5] is None
    assert out[6] == ["  x  "]  # no separator -> whole string, unstripped


def test_date_str_to_int_reference_semantics(spark):
    """Regex match only — '1987-00-00' parses to 19870000 (no calendar
    validation, reference Main.java:619-635); junk/null -> -1."""
    df = _one_col(spark, ["2024-08-13", "1987-00-00", "bad", "", None, "2024-8-3"])
    out = [r[0] for r in df.select(F.expr(scalar.date_str_to_int("v"))).collect()]
    assert out == [20240813, 19870000, -1, -1, -1, -1]
    # nullable variant
    out2 = [r[0] for r in df.select(F.expr(scalar.date_str_to_int("v", sentinel=None))).collect()]
    assert out2 == [20240813, 19870000, None, None, None, None]


def test_epoch_to_date_int(spark):
    df = _one_col(spark, [1723507200, 0, -5, None], dtype="long")
    out = [r[0] for r in df.select(F.expr(scalar.epoch_to_date_int("v"))).collect()]
    # 1723507200 = 2024-08-13 00:00:00 UTC
    assert out == [20240813, -1, -1, -1]


def test_try_int(spark):
    df = _one_col(spark, ["42", "Annual 1", "", None, " 7"])
    out = [r[0] for r in df.select(F.expr(scalar.try_int("v"))).collect()]
    assert out == [42, None, None, None, 7]


def test_int_to_bool_and_defaults(spark):
    df = _one_col(spark, [1, 0, 2, None], dtype="int")
    out = [r[0] for r in df.select(F.expr(scalar.int_to_bool("v"))).collect()]
    assert out == [True, False, False, None]
    filled = [r[0] for r in df.select(F.expr(scalar.int_with_default("v"))).collect()]
    assert filled == [1, 0, 2, -1]


def test_dict_decode_miss_is_null(spark):
    df = _one_col(spark, [1, 2, 99, None], dtype="int")
    out = [r[0] for r in df.select(F.expr(scalar.dict_decode("v", {1: "one", 2: "two"}))).collect()]
    assert out == ["one", "two", None, None]


def test_shingles_and_tokens(spark):
    df = _one_col(spark, ["a b c d", "a b", "", None, "  x   y  z "])
    toks = [r[0] for r in df.select(F.expr(ws_tokens("v"))).collect()]
    assert toks[0] == ["a", "b", "c", "d"]
    assert toks[2] == []
    assert toks[4] == ["x", "y", "z"]
    sh = [r[0] for r in df.select(F.expr(shingles("v", 3))).collect()]
    assert sh[0] == ["a b c", "b c d"]
    assert sh[1] == []  # shorter than k
    assert sh[2] == []
    assert sh[3] == []  # NULL text


def test_shingles_tokenize_once():
    """The tokenizer is bound once per row, outside the per-shingle
    lambda: written inside it, every shingle re-splits the document."""
    assert shingles("v", 3).count("split(") == 1


def test_snapshot_int():
    assert scalar.snapshot_int("2024-08-13") == 20240813
