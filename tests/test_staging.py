"""The one staging rule for per-input scratch tables
(``sources/catalog.staged_name`` / ``ensure_staged`` / ``drop_staged``):
a staged artifact is named from its sf_dir tag plus a fingerprint of
the input files it was built from, is reused only while its catalog
table exists, and lives under the session's warehouse root."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import duckdb

import gcd_etl_spark
from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.sources.catalog import TABLES
from tests.conftest import assert_matches_oracle


def _link_fixture(src: str, dst: Path, skip: tuple[str, ...] = ()) -> str:
    dst.mkdir(parents=True)
    for t in TABLES:
        if t not in skip:
            os.symlink(f"{src}/{t}.parquet", dst / f"{t}.parquet")
    return str(dst)


def test_bucketed_join_restages_for_changed_input(spark, sf_smoke, tmp_path):
    """Two sf dirs with the same basename but different ``lineitem``
    data: the second run must stage its own bucketed table, not reuse
    the first dir's (a basename-keyed reuse returned the first dir's
    rows)."""
    q = QUERIES["bucketed_colocated_join"]
    a = _link_fixture(sf_smoke, tmp_path / "a" / "sf0.001")
    b = _link_fixture(sf_smoke, tmp_path / "b" / "sf0.001", skip=("lineitem",))
    duckdb.execute(
        f"COPY (SELECT * FROM read_parquet('{sf_smoke}/lineitem.parquet') "
        f"WHERE l_orderkey % 2 = 0) TO '{b}/lineitem.parquet' (FORMAT PARQUET)"
    )
    assert_matches_oracle(q.build(spark, a), q.oracle, a, name="bucketed a")
    assert_matches_oracle(q.build(spark, b), q.oracle, b, name="bucketed b")


def test_staged_gcd_queries_on_dir_without_sf(spark, sf_smoke, tmp_path):
    """Staged names derive from an identifier-safe tag of ANY sf_dir,
    including one whose path has no "sf" in it."""
    d = _link_fixture(sf_smoke, tmp_path / "plain" / "corpus")
    assert "sf" not in d, d
    for name in ("gcd_snapshot_bucketed", "snapshot_table_partitions"):
        q = QUERIES[name]
        assert_matches_oracle(q.build(spark, d), q.oracle, d, name=name)


def test_nightly_prior_restaged_after_drop(spark, sf_smoke):
    """The reuse gate is the catalog itself: once the staged nightly
    prior table is gone, the next run stages it again instead of
    reading a table name remembered from before."""
    from gcd_etl_spark.plans.gcd import _nightly_prior_table

    q = QUERIES["gcd_snapshot_nightly_overwrite"]
    spark.sql(f"DROP TABLE {_nightly_prior_table(spark, sf_smoke)}")
    assert_matches_oracle(q.build(spark, sf_smoke), q.oracle, sf_smoke, name=q.name)


def test_one_staging_rule_in_package():
    """Only the staging helper reads the warehouse root, gates reuse on
    ``catalog.tableExists`` or derives a tag from an sf_dir."""
    root = Path(gcd_etl_spark.__file__).parent
    helper = root / "sources" / "catalog.py"
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == helper:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            where = f"{path.relative_to(root)}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Constant) and node.value == "spark.sql.warehouse.dir":
                found.append(f"{where} reads the warehouse root")
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr, args = node.func.attr, node.args
            if attr == "tableExists":
                found.append(f"{where} gates on tableExists")
            elif attr == "basename" and args and "sf_dir" in ast.unparse(args[0]):
                found.append(f"{where} derives a tag from basename(sf_dir)")
            elif attr == "rsplit" and args and ast.unparse(args[0]) == "'sf'":
                found.append(f"{where} derives a tag from rsplit('sf')")
    assert not found, "\n".join(found)


def _conf_writes_outside_child_sessions(tree: ast.AST) -> list[ast.Call]:
    """``<x>.conf.set``/``<x>.conf.unset`` calls in ``tree`` whose
    ``<x>`` is not a name the enclosing function bound to a
    ``newSession()`` result."""
    found = []

    def visit(node: ast.AST, children: frozenset[str]) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            children = frozenset(
                t.id
                for n in ast.walk(node)
                if isinstance(n, ast.Assign)
                and isinstance(n.value, ast.Call)
                and isinstance(n.value.func, ast.Attribute)
                and n.value.func.attr == "newSession"
                for t in n.targets
                if isinstance(t, ast.Name)
            )
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            owner = node.func.value.value
            if not (isinstance(owner, ast.Name) and owner.id in children):
                found.append(node)
        for child in ast.iter_child_nodes(node):
            visit(child, children)

    visit(tree, frozenset())
    return found


def test_no_call_changes_session_conf():
    """Session SQL conf is set only in ``session.py``, when the session
    is built. Anywhere else, a conf write must go to a child session
    that the same function made with ``newSession()``."""
    root = Path(gcd_etl_spark.__file__).parent
    found = [
        f"{path.relative_to(root)}:{node.lineno} {ast.unparse(node)}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "session.py"
        for node in _conf_writes_outside_child_sessions(ast.parse(path.read_text()))
    ]
    assert not found, "\n".join(found)


def test_conf_guard_flags_caller_session():
    """The guard sees a write to the caller's session, and passes one
    to a child session made in the same function."""
    src = """
def bad(spark):
    spark.conf.set("k", "v")

def good(spark):
    child = spark.newSession()
    child.conf.set("k", "v")

def other(child):
    child.conf.unset("k")
"""
    flagged = [n.lineno for n in _conf_writes_outside_child_sessions(ast.parse(src))]
    assert flagged == [3, 10]


def test_ingest_gate_removes_its_replay_input(spark, sf_smoke):
    """An ingest gate deletes the staged delta it replayed once the
    stream has drained, and keeps the verdict dir its result reads."""
    import re

    from gcd_etl_spark.sources.catalog import sf_tag

    tmp = Path("/tmp")
    before = set(os.listdir(tmp))
    rows = QUERIES["stream_quality_gate"].build(spark, sf_smoke).collect()
    new = set(os.listdir(tmp)) - before
    tag = re.escape(sf_tag(sf_smoke))
    named = lambda kind: [  # noqa: E731
        d for d in new if re.fullmatch(rf"gcd_etl_stream_{kind}_{tag}_[0-9a-f]{{8}}", d)
    ]
    replay, out = named("qgate"), named("qgate_out")
    assert not replay, f"replay input left behind: {replay}"
    assert len(out) == 1, new
    cols = ["doc_id", "n_bigrams", "n_unseen", "nll_total_micro", "nll_mean_micro"]
    read_back = spark.read.parquet(str(tmp / out[0])).select(*cols).collect()
    assert rows, "fixture produced no delta scores — the check is vacuous"
    assert sorted(map(tuple, read_back)) == sorted(map(tuple, rows))
