"""Spans around the benchmark's calls into the program, plus the Spark
engine counters attributed to each span.

A span has a name, a start, an end, a parent and a rep id. Spans live
in memory and are written out once, at exit. While a span is open its
Spark jobs run under a job group of its own (``setJobGroup``), so after
the rep the engine counters of those jobs are read back from the
status store (per-stage CPU, GC, shuffle, spill) and, for spans
that ask for it, from the SQL plan graph of the executions they ran
(per-operator SQL metrics). With tracing off ``span`` does nothing.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

#: Stage-level counters read from the status store, with the StageData
#: accessor and the scale to apply.
_STAGE_COUNTERS = {
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
}
COUNTERS = ("jobs", "stages", "tasks", *_STAGE_COUNTERS)

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """A SQL metric as the status store formats it -> number (seconds
    for timings, bytes for sizes). Multi-task values read
    ``total (min, med, max ...)\\n<total> (...)``; the total is used."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


class Tracer:
    """Records spans and their engine counters for one benchmark run."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        #: spans are recorded only while ``active`` (never without
        #: ``enabled``); the run loop switches it per rep
        self.active = False
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._origin = time.perf_counter()
        self._next_id = 0
        if enabled:
            jvm = self.sc._jvm
            self._store = self.sc._jsc.sc().statusStore()
            self._sql_store = spark._jsparkSession.sharedState().statusStore()
            self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
            self._no_status = jvm.java.util.ArrayList()
            self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    @contextmanager
    def span(self, name: str, rep: int | None = None, sql_metrics: bool = False, **attrs):
        """Time the enclosed call as one span. ``sql_metrics`` also
        keeps the SQL plan graph metrics of the executions it ran."""
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "rep": rep if rep is not None else (parent["rep"] if parent else None),
            "start": time.perf_counter() - self._origin,
            **attrs,
        }
        self._next_id += 1
        group = f"bench-span-{rec['id']}"
        rec["_group"] = group
        rec["_sql"] = sql_metrics
        rec["_exec_from"] = self._sql_store.executionsCount() if sql_metrics else 0
        self.sc.setJobGroup(group, name, False)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._origin
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["_group"], parent["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self._pending.append(rec)

    def collect(self) -> None:
        """Read the engine counters of every span closed since the last
        call. Runs after the rep, outside its timed region."""
        if not self.enabled or not self._pending:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self._pending:
            counters = dict.fromkeys(COUNTERS, 0.0)
            job_ids = set(tracker.getJobIdsForGroup(rec["_group"]))
            counters["jobs"] = len(job_ids)
            for job in job_ids:
                info = tracker.getJobInfo(job)
                for stage_id in info.stageIds if info else ():
                    self._add_stage(stage_id, counters)
            rec["counters"] = counters
            if rec["_sql"]:
                rec["sql_executions"], rec["sql_nodes"] = self._sql_nodes(
                    rec["_exec_from"], job_ids
                )
        self._pending = []

    def _add_stage(self, stage_id: int, counters: dict) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        )
        for i in range(attempts.length()):
            s = attempts.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            counters["stages"] += 1
            counters["tasks"] += s.numCompleteTasks()
            for key, (getter, scale) in _STAGE_COUNTERS.items():
                counters[key] += getattr(s, getter)() * scale

    def _sql_nodes(self, exec_from: int, job_ids: set) -> tuple[int, list[dict]]:
        """(count, plan-graph nodes) of the SQL executions since
        ``exec_from`` that ran any of ``job_ids``; a node is its id,
        name, parsed metrics and child ids."""
        store = self._sql_store
        n = store.executionsCount() - exec_from
        if n <= 0:
            return 0, []
        matched = 0
        nodes: list[dict] = []
        execs = store.executionsList(exec_from, n)
        for i in range(execs.length()):
            ex = execs.apply(i)
            ex_jobs = {int(j) for j in self._to_java(ex.jobs()).keySet()}
            if not ex_jobs & job_ids:
                continue
            matched += 1
            nodes += self._graph(ex.executionId())
        return matched, nodes

    def _graph(self, execution_id: int) -> list[dict]:
        store = self._sql_store
        graph = store.planGraph(execution_id)
        values = self._to_java(store.executionMetrics(execution_id))
        by_id: dict[int, dict] = {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.length()):
            node = all_nodes.apply(i)
            metrics = {}
            ms = node.metrics()
            for k in range(ms.length()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v is not None:
                    metrics[m.name()] = parse_sql_metric(str(v))
            by_id[node.id()] = {
                "id": (execution_id, node.id()),
                "name": node.name().strip(),
                "metrics": metrics,
                "children": [],
            }
        edges = graph.edges()
        for i in range(edges.length()):
            e = edges.apply(i)  # edge runs child -> parent
            child, parent = by_id.get(e.fromId()), by_id.get(e.toId())
            if child and parent:
                parent["children"].append(child["id"])
        return list(by_id.values())

    # ------------------------------------------------------------ queries

    def named(self, name: str, rep: int | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (rep is None or s["rep"] == rep)]

    def subtree(self, rec: dict) -> list[dict]:
        """``rec`` and every span nested under it."""
        out, frontier = [rec], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += kids
            frontier = [s["id"] for s in kids]
        return out

    def total(self, recs: list[dict], counter: str) -> float:
        """Sum of one engine counter over ``recs`` and their subtrees."""
        seen: dict[int, dict] = {}
        for rec in recs:
            for s in self.subtree(rec):
                seen[s["id"]] = s
        return sum(s.get("counters", {}).get(counter, 0.0) for s in seen.values())

    @staticmethod
    def duration(recs: list[dict]) -> float:
        return sum(s["end"] - s["start"] for s in recs)

    def write(self, path: str, run_info: dict) -> None:
        """Write every span (public fields only) as one JSON document."""
        spans = [{k: v for k, v in s.items() if not k.startswith("_")} for s in self.spans]
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": run_info, "spans": spans}, f, indent=1, default=str)
