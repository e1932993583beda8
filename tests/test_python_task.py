"""One boundary for every engine Python task (``session.python_task``):
each body the package hands to a Python worker is wrapped, so every
exit from it drops the worker's zip importers, and ``get_spark`` ships
the package, so a worker imports it without the driver's checkout on
its path."""

from __future__ import annotations

import ast
import inspect
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

import gcd_etl_spark
from gcd_etl_spark.session import python_task

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: A driver whose only route to the package is its own ``sys.path``:
#: run from outside the checkout with no ``PYTHONPATH``, so a worker
#: can import the package only from what ``get_spark`` ships. It runs
#: one task of each kind through the package's own bodies, each
#: followed by a probe task that counts the worker's zip importers.
_DRIVER = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
SF = sys.argv[2]

import numpy as np
from pyspark.sql import types as T

from gcd_etl_spark.operators.clustering import assign_clusters
from gcd_etl_spark.operators.similarity import make_planes, srp_buckets_udf
from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.session import get_spark
from gcd_etl_spark.sources.dump import stage_dump_table

spark = get_spark("python-task-probe", master="local[1]", shuffle_partitions=1)

def zip_importers(batches):
    import sys, zipimport
    n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for b in batches:
        yield b.assign(n=n)

probe = spark.range(1).mapInPandas(zip_importers, "id long, n int")
vecs = spark.range(2).selectExpr("id AS vec_id", "array(CAST(id AS FLOAT), 1.0f) AS embedding")
lines = spark.createDataFrame([("INSERT INTO `t` VALUES (1),(2);",)], "value string")
ids = T.StructType([T.StructField("id", T.LongType())])
query = lambda name: QUERIES[name].build(spark, SF)
steps = {
    "stage_dump_table": lambda: stage_dump_table(spark, lines, "t", ids),
    "mapInPandas": lambda: assign_clusters(vecs, np.eye(2)),
    "mapInArrow": lambda: query("arrow_vector_stats"),
    "applyInPandas": lambda: query("pandas_grouped_stats"),
    "cogroup": lambda: query("cogroup_pandas_join"),
    "pandas_udf": lambda: vecs.select(srp_buckets_udf(make_planes(2, 4), 2)("embedding")),
    "udtf": lambda: query("udtf_token_runs"),
    "applyInPandasWithState": lambda: query("stream_stateful_totals"),
}
out = {"before": probe.first().n, "steps": []}
for name, build in steps.items():
    rows = len(build().collect())
    out["steps"].append([name, rows, probe.first().n])
print(json.dumps(out))
spark.stop()
"""


def test_every_task_kind_runs_from_shipped_package_and_leaves_no_zip_importers(
    tmp_path, sf_smoke
):
    """From a working directory outside the checkout, with no
    ``PYTHONPATH``, every kind of engine Python task runs (the workers
    import the package from the zip ``get_spark`` ships), and each
    leaves no ``zipimporter`` in the worker's ``sys.path_importer_cache``,
    so the next task does not re-read any archive's directory when
    PySpark invalidates the import caches. ``local[1]`` with one shuffle
    partition keeps every task on one reused worker; the first probe
    shows the entries were there."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    res = subprocess.run(
        [sys.executable, "-c", _DRIVER, ROOT, sf_smoke],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if out["before"] == 0:
        pytest.skip("no zip archive on the Python workers' path")
    steps = {name: (rows, left) for name, rows, left in out["steps"]}
    assert steps.pop("stage_dump_table") == (2, 0)
    assert len(steps) == 7
    for name, (rows, left) in steps.items():
        assert rows > 0, name
        assert left == 0, f"{name} left {left} zip importers"


def test_python_task_drops_zip_importers_when_generator_raises(tmp_path, monkeypatch):
    """A body that raises after its first batch still drops them: the
    drop sits in the wrapper's ``finally``, not at the body's end."""
    archive = str(tmp_path / "tiny.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("tiny_mod.py", "")
    monkeypatch.setitem(sys.path_importer_cache, archive, zipimport.zipimporter(archive))

    @python_task
    def body(batches):
        for b in batches:
            yield b
            raise ValueError("bad batch")

    it = body(iter([1, 2]))
    assert next(it) == 1
    assert archive in sys.path_importer_cache
    with pytest.raises(ValueError):
        next(it)
    assert archive not in sys.path_importer_cache


def test_python_task_keeps_name_and_argspec():
    """PySpark reads a body's argument count with ``getfullargspec``
    (``applyInPandas`` takes ``(key, pdf)`` bodies), and UDF and plan
    node names come from ``__name__``."""

    def merge(key, pdf):
        return pdf

    wrapped = python_task(merge)
    assert wrapped.__name__ == "merge"
    assert inspect.getfullargspec(wrapped).args == ["key", "pdf"]


#: Methods whose first argument runs in a Python worker.
_TASK_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState"}


def _decorators(node: ast.FunctionDef | ast.ClassDef) -> set[str]:
    names = set()
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        names.add(d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", ""))
    return names


def _unwrapped_tasks(tree: ast.Module, in_session: bool = False) -> list[int]:
    """Lines in ``tree`` that break the one-boundary rule: a name
    ``drop_zip_importers`` (outside ``session.py``), a task body not
    wrapped in ``python_task``, a ``pandas_udf`` not wrapped, or a
    ``udtf`` class without a wrapped ``terminate``."""
    defs: dict[str, list[ast.FunctionDef]] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef):
            defs.setdefault(n.name, []).append(n)

    def wrapped(expr: ast.expr) -> bool:
        if isinstance(expr, ast.Name):
            fns = defs.get(expr.id, [])
            return bool(fns) and all("python_task" in _decorators(f) for f in fns)
        if isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name):
            if expr.func.id == "python_task":
                return True
            # a body factory: whatever it returns must be wrapped
            returns = [
                r.value
                for f in defs.get(expr.func.id, [])
                for r in ast.walk(f)
                if isinstance(r, ast.Return) and r.value is not None
            ]
            return bool(returns) and all(wrapped(v) for v in returns)
        return False

    found = []
    for n in ast.walk(tree):
        name = getattr(n, "id", None) or getattr(n, "attr", None) or getattr(n, "name", None)
        if not in_session and isinstance(name, str) and "drop_zip_importers" in name:
            found.append(n.lineno if hasattr(n, "lineno") else 0)
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in _TASK_METHODS
        ):
            body = n.args[0] if n.args else next((k.value for k in n.keywords if k.arg == "func"), None)
            if body is None or not wrapped(body):
                found.append(n.lineno)
        if isinstance(n, ast.FunctionDef):
            decs = _decorators(n)
            if "pandas_udf" in decs and "python_task" not in decs:
                found.append(n.lineno)
        if isinstance(n, ast.ClassDef) and "udtf" in _decorators(n):
            if not any(
                isinstance(m, ast.FunctionDef)
                and m.name == "terminate"
                and "python_task" in _decorators(m)
                for m in n.body
            ):
                found.append(n.lineno)
    return found


def test_every_python_task_body_is_wrapped_in_package():
    """Only ``session.py`` names the zip-importer drop, and every body
    the package hands to a Python worker goes through ``python_task``."""
    root = Path(gcd_etl_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        in_session = path == root / "session.py"
        found += [f"{path.relative_to(root)}:{ln}" for ln in _unwrapped_tasks(tree, in_session)]
    assert not found, "\n".join(found)


def test_unwrapped_task_guard_flags_each_form():
    src = """
from gcd_etl_spark.session import drop_zip_importers, python_task

@python_task
def ok(batches):
    yield from batches

def bare(batches):
    yield from batches

def factory():
    @python_task
    def fn(batches):
        yield from batches
    return fn

def bad_factory():
    return bare

df.mapInPandas(ok, "x long")
df.mapInPandas(bare, "x long")
df.mapInArrow(python_task(bare), "x long")
df.mapInPandas(factory(), "x long")
df.mapInPandas(bad_factory(), "x long")
df.groupBy("k").applyInPandas(lambda pdf: pdf, "x long")

@F.pandas_udf("long")
def udf_bare(s):
    return s

@F.pandas_udf("long")
@python_task
def udf_ok(s):
    return s

@udtf(returnType="x int")
class NoTerminate:
    def eval(self, x):
        yield (x,)

@udtf(returnType="x int")
class WithTerminate:
    def eval(self, x):
        yield (x,)

    @python_task
    def terminate(self):
        pass
"""
    assert sorted(_unwrapped_tasks(ast.parse(src))) == [2, 21, 24, 25, 28, 37]
