r"""Mysqldump staging parser: tokenizer units + distributed round-trip.

The parser is the engine's replacement for the reference's
dump -> MySQL -> JDBC path (reference Main.java:128-132,245-247), so
it must survive everything MySQL string escaping can emit: embedded
quotes, doubled quotes, backslash escapes, newlines-as-\n, NULLs,
negative/float bare tokens, parens and commas inside strings.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from pyspark.sql import types as T

from gcd_etl_spark.sources.dump import (
    format_insert_statements,
    insert_header,
    iter_insert_tuples,
    parse_insert_lines,
    sql_literal,
    stage_dump_table,
    stage_tsv_table,
)
from tests.conftest import spark_jobs


def test_table_name_forms():
    assert insert_header("INSERT INTO `gcd_issue` VALUES (1);")[0] == "gcd_issue"
    assert insert_header("INSERT INTO nation (a,b) VALUES (1,2);")[0] == "nation"
    assert insert_header("-- comment line")[0] is None
    assert insert_header("CREATE TABLE `x` (id int);")[0] is None


def test_tuple_tokenizer_escapes():
    line = (
        "INSERT INTO `t` VALUES "
        r"(1,'it''s \'ok\'','a\nb',NULL,-2.5,'c,(d);e','\\'),"
        r"(2,'',NULL,'x\ty',3,'(',')');"
    )
    tups = list(iter_insert_tuples(line))
    assert tups == [
        ["1", "it's 'ok'", "a\nb", None, "-2.5", "c,(d);e", "\\"],
        ["2", "", None, "x\ty", "3", "(", ")"],
    ]


def test_writer_parser_inverse():
    rows = [
        (1, "plain", None, 2.75),
        (2, "q'uo\"te", "a;b\nc", -0.125),
        (3, "tab\there, (paren)", "\\back\\", 1e300),
    ]
    [line] = format_insert_statements("t", rows)
    got = [
        [f if f is None else f for f in tup] for tup in iter_insert_tuples(line)
    ]
    for orig, parsed in zip(rows, got):
        assert parsed[0] == repr(orig[0])
        assert parsed[1] == orig[1]
        assert parsed[2] == orig[2]
        assert float(parsed[3]) == orig[3]


def test_sql_literal_nulls_and_bools():
    assert sql_literal(None) == "NULL"
    assert sql_literal(True) == "1"
    assert sql_literal("a'b") == r"'a\'b'"


def test_distributed_parse_and_cast(spark):
    rows = [(i, f"name_{i}" if i % 3 else None, float(i) / 8, "1997-0%d-01 12:30:00" % (i % 9 + 1)) for i in range(500)]
    lines = format_insert_statements("docs", rows, rows_per_statement=64)
    lines += format_insert_statements("other", [(99, "x", 0.0, None)], 10)
    text = spark.createDataFrame([(ln,) for ln in lines], "value string").repartition(3)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    out = parse_insert_lines(text, "docs", schema)
    pdf = out.toPandas().sort_values("id").reset_index(drop=True)
    assert len(pdf) == 500  # the `other` table's row is filtered out
    assert pdf["id"].tolist() == list(range(500))
    assert pdf.loc[0, "name"] is None or pd.isna(pdf.loc[0, "name"])
    assert pdf.loc[1, "name"] == "name_1"
    assert pdf["score"].tolist() == [i / 8 for i in range(500)]
    assert str(pdf.loc[2, "ts"]) == "1997-03-01 12:30:00"


def test_malformed_field_nulls_not_aborts(spark):
    lines = ["INSERT INTO `t` VALUES (1,'notanint'),(2,'77');"]
    text = spark.createDataFrame([(ln,) for ln in lines], "value string")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.IntegerType())]
    )
    got = parse_insert_lines(text, "t", schema).collect()
    by_id = {r.id: r.v for r in got}
    assert by_id == {1: None, 2: 77}


def test_tsv_staging(spark, tmp_path):
    p = tmp_path / "t.tsv"
    p.write_text("1\ta\n2\t\\N\n3\tc\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
    )
    got = stage_tsv_table(spark, str(p), schema).collect()
    assert {(r.id, r.s) for r in got} == {(1, "a"), (2, None), (3, "c")}


def _nullable(schema: T.StructType) -> T.StructType:
    return T.StructType([T.StructField(f.name, f.dataType) for f in schema.fields])


def test_tsv_staging_reads_back_without_a_job(spark, tmp_path):
    """With ``out_path`` the staged parquet reads back with the declared
    schema: the write is the call's only Spark job (no schema-inference
    job on read-back)."""
    p = tmp_path / "t.tsv"
    p.write_text("1\ta\n2\t\\N\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType(), False), T.StructField("s", T.StringType())]
    )
    out = str(tmp_path / "staged")
    with spark_jobs(spark) as jobs:
        df = stage_tsv_table(spark, str(p), schema, out_path=out)
    assert jobs[0] == 1
    assert df.schema == spark.read.parquet(out).schema == _nullable(schema)
    assert {(r.id, r.s) for r in df.collect()} == {(1, "a"), (2, None)}


#: A microdump of one table with awkward column names: a malformed int
#: and timestamp, a short tuple, a truncated tuple and another table's
#: line. Only rows 1, 2 and 4 stage.
_ODD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("select", T.StringType()),
        T.StructField("we`ird name", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
_ODD_DUMP = (
    "-- dump\n"
    "INSERT INTO `t` VALUES (1,'a','5','2020-01-02 03:04:05'),(2,NULL,'x',NULL),(3,'c');\n"
    "INSERT INTO `t2` VALUES (9,'t','9',NULL);\n"
    "INSERT INTO `t` VALUES (4,'d,(e)',7,'not-a-time'),(5,'cut\n"
)


def test_staged_frame_schema_and_rows(spark, tmp_path):
    """``stage_dump_table(out_path=...)`` returns exactly the declared
    schema as nullable (the schema parquet inference gives back, names
    that need quoting included) and the typed rows, and its only Spark
    job is the write."""
    (tmp_path / "dump.sql").write_text(_ODD_DUMP)
    out = str(tmp_path / "staged")
    metrics: dict = {}
    with spark_jobs(spark) as jobs:
        df = stage_dump_table(
            spark, str(tmp_path / "dump.sql"), "t", _ODD_SCHEMA, out_path=out, metrics=metrics
        )
    assert jobs[0] == 1
    assert df.schema == spark.read.parquet(out).schema == _nullable(_ODD_SCHEMA)
    assert sorted(map(tuple, df.collect())) == [
        (1, "a", 5, datetime.datetime(2020, 1, 2, 3, 4, 5)),
        (2, None, None, None),
        (4, "d,(e)", 7, None),
    ]
    assert metrics["arity_mismatch_tuples"].value == 1
    assert metrics["truncated_tuples"].value == 1
    assert metrics["other_table_lines"].value == 1  # `t2` passes the prefilter


_ZIP_PROBE = """
import json, sys
from pyspark.sql import types as T
from gcd_etl_spark.session import get_spark
from gcd_etl_spark.sources.dump import stage_dump_table

spark = get_spark("zip-probe", master="local[1]")

def zip_importers(batches):
    import sys, zipimport
    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for b in batches:
        yield b.assign(n=n)

probe = spark.range(1).mapInPandas(zip_importers, "id long, n int")
before = probe.first().n
lines = spark.createDataFrame([("INSERT INTO `t` VALUES (1),(2);",)], "value string")
schema = T.StructType([T.StructField("id", T.LongType())])
staged = stage_dump_table(spark, lines, "t", schema).count()
print(json.dumps([before, staged, probe.first().n]))
spark.stop()
"""


def test_tokenizer_task_leaves_no_zip_importers():
    """A tokenizer task ends with no ``zipimporter`` left in the worker's
    ``sys.path_importer_cache``, so the next task in that worker does
    not re-read any zip archive's directory when PySpark invalidates the
    import caches. ``local[1]`` in a child process keeps every task on
    one reused worker; the first probe shows the entries were there."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    res = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    before, staged, after = json.loads(res.stdout.strip().splitlines()[-1])
    if before == 0:
        pytest.skip("no zip archive on the Python workers' path")
    assert staged == 2
    assert after == 0


# ------------------------------------------------ truncated tuples

#: Strings biased toward the characters the tokenizer must get right:
#: quote, backslash, tuple/statement delimiters and newline.
_field = st.one_of(
    st.none(),
    st.integers(-(10**12), 10**12),
    st.text(
        alphabet=st.one_of(st.sampled_from("'\\);,\n"), st.characters()),
        max_size=12,
    ),
)
_rows = st.lists(
    st.lists(_field, min_size=1, max_size=4).map(tuple), min_size=1, max_size=6
)


def _as_parsed(row: tuple) -> list[str | None]:
    return [None if v is None else str(v) for v in row]


@settings(max_examples=200, deadline=None)
@given(_rows)
def test_insert_round_trip_is_lossless(rows):
    lines = format_insert_statements("t", rows, rows_per_statement=4)
    got = [tup for ln in lines for tup in iter_insert_tuples(ln)]
    assert got == [_as_parsed(r) for r in rows]


@settings(max_examples=200, deadline=None)
@given(_rows)
@example([(1, "ab"), (2, "cd")])
@example([(1, "ab"), (2, 3)])
def test_line_prefix_yields_only_complete_tuples(rows):
    """A cut-off line (partial download) yields exactly the tuples
    whose closing paren it still holds — a truncated tuple must not
    stage as a row even when its arity happens to match."""
    [line] = format_insert_statements("t", rows, rows_per_statement=len(rows))
    texts = ["(" + ",".join(sql_literal(v) for v in r) + ")" for r in rows]
    head = "INSERT INTO `t` VALUES "
    assert line == head + ",".join(texts) + ";"
    ends, pos = [], len(head)
    for t in texts:
        pos += len(t)
        ends.append(pos)
        pos += 1  # the ',' between tuples
    want = [_as_parsed(r) for r in rows]
    for k in range(len(line)):
        got = list(iter_insert_tuples(line[:k]))
        assert got == [w for w, e in zip(want, ends) if e <= k], line[:k]


_AB = T.StructType(
    [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
)


def test_truncated_tuples_quarantined_and_counted(spark):
    lines = [
        "INSERT INTO `t` VALUES (1,'ab'),(2,'cd",  # cut inside a string
        "INSERT INTO `t` VALUES (3,'ef'),(4,5",  # cut after a bare token
        "INSERT INTO `t` VALUES (6,'gh');",
    ]
    text = spark.createDataFrame([(ln,) for ln in lines], "value string")
    metrics: dict = {}
    got = parse_insert_lines(text, "t", _AB, metrics=metrics).collect()
    assert sorted((r.a, r.b) for r in got) == [(1, "ab"), (3, "ef"), (6, "gh")]
    assert metrics["truncated_tuples"].value == 2
    assert metrics["arity_mismatch_tuples"].value == 0


def test_header_cut_lines_counted(spark):
    """A line of the table cut inside its INSERT header (before VALUES)
    holds no tuple, but is counted — it is not another table's line."""
    lines = [
        "INSERT INTO `t` VAL",
        "INSERT INTO `t` (`a`,`b",
        "INSERT INTO `t`",
        "INSERT INTO `t` VALUES (1,'ab');",
    ]
    text = spark.createDataFrame([(ln,) for ln in lines], "value string")
    metrics: dict = {}
    got = parse_insert_lines(text, "t", _AB, metrics=metrics).collect()
    assert [(r.a, r.b) for r in got] == [(1, "ab")]
    assert metrics["truncated_tuples"].value == 3
    assert metrics["other_table_lines"].value == 0


def test_dump_dir_nulls_bad_values_and_counts_short_tuples(spark, tmp_path):
    """A directory of dump files through stage_dump_table: strings that
    are not booleans and an int out of range stage as NULL (never a
    job abort), and a short tuple is quarantined and counted, never
    null-padded into a row."""
    (tmp_path / "bools.sql").write_text(
        "INSERT INTO `t` VALUES (1,'2',0),(2,'1.5',0),(3,'1e3',0),(4,'-0',0),"
        "(5,' 7 ',0),(6,'Infinity',0),(7,'0.0',0),(8,'1',0),(9,'0',0);\n"
    )
    (tmp_path / "ints.sql").write_text(
        "INSERT INTO `t` VALUES (10,NULL,9999999999),(11,NULL,42),(100,1);\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    metrics: dict = {}
    got = {
        r.id: (r.flag, r.n)
        for r in stage_dump_table(
            spark, str(tmp_path), "t", schema, metrics=metrics
        ).collect()
    }
    assert got == {
        **{i: (None, 0) for i in range(1, 8)},
        8: (True, 0),
        9: (False, 0),
        10: (None, None),
        11: (None, 42),
    }
    assert metrics["arity_mismatch_tuples"].value == 1
    assert metrics["truncated_tuples"].value == 0
