"""Smoke test of the benchmark itself, at a tiny scale.

    python3 -m pytest gcdbench/test_smoke.py -q

Checks that one command prints every end-to-end metric named in
BENCHMARK.json with its unit for every workload, that a traced run prints every
per-layer metric, that the generator is deterministic per seed, and
that a corrupted output is counted as a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run as bench  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
TINY = "0.1"


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def test_all_workloads_print_end_to_end_metrics_with_units():
    lines, result = _run("all", trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    names = [w["name"] for w in SPEC["workloads"]]
    want = {f"{w}.{m['name']}": m["unit"] for w in names for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, unit in want.items():
        workload, metric = name.split(".", 1)
        assert any(ln.split()[:2] == [workload, metric] and ln.endswith(unit) for ln in lines), name
        assert result["metrics"][name]["value"] > 0, name
    for w in names:
        assert any(ln.split()[0] == w and ln.split()[1].startswith("attempted=")
                   and ln.endswith("failed=0 correct=true") for ln in lines), w
    infos = [json.loads(ln) for ln in lines if ln.startswith('{"default_parallelism"')]
    assert [i["workload"] for i in infos] == names
    for info in infos:
        assert info["master"].startswith("local[") and info["default_parallelism"] >= 1
        assert info["seed"] == 3 and info["scale"] == float(TINY)


def test_traced_run_prints_per_layer_metrics():
    _lines, result = _run("nightly_full", trace=1)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert values["latency_p50_ms"] > 0 and values["peak_rss_mb"] > 0
    assert values["dump.stage_s"] > 0 and values["dump.quarantined_tuples"] == 0
    assert values["pipeline.exchanges"] > 0 and values["credits.agg_rows_in"] > 0
    assert values["sql.exec_ms"] > 0 and values["sql.partitions_pruned"] > 0  # analyst probe
    assert values["dedup.signature_s"] == 0  # layer not run by this workload


def _digest(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for n in files:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_generator_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_gcd(str(tmp_path / name), seed, 0.1)
        gen.write_documents(str(tmp_path / name), seed, 0.1)
    a, b, c = (_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a.keys() == c.keys()
    for k in ("gcd_issue.parquet", "gcd_story.parquet", "gcd_dump.sql", "documents.parquet"):
        assert a[k] != c[k], k


def test_corrupted_output_counts_as_failed():
    def corrupt(outs):
        row = list(outs[0]["rows"][0])
        row[-1] = not row[-1]  # flip is_kept of one document
        outs[0]["rows"][0] = tuple(row)

    result = bench.run("corpus_dedup", 3, 1, False, scale=float(TINY), mutate=corrupt)["result"]
    assert result["failed"] == 1 and result["correct"] is False
    assert result["metrics"]["success_ratio"]["value"] == 1 - 1 / result["attempted"]
