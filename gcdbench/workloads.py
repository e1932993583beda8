"""The benchmark's workloads, each driving the program's public
functions on generated inputs.

* ``nightly_full`` — the reference's nightly job minus MySQL: one
  mysqldump file of all 13 tables -> ``stage_dump_table`` x13 ->
  ``collect_dict_maps`` -> ``build_snapshot`` -> ``write_snapshot`` ->
  ``register_snapshot_table``. One operation is one whole nightly run.
  Traced reps then probe the analyst layer: a second partition is added
  to the table the rep wrote and each SQL template runs once over it.
* ``corpus_dedup`` — the registered ``dedup_keep_canonical`` plan
  (MinHash signature -> LSH candidates -> Jaccard verify -> connected
  components -> one kept document per cluster) over a generated
  ``documents`` table. One operation is one full dedup pass.

Each workload checks its outputs against an independent DuckDB oracle
after the timed region; a mismatch fails that operation.
"""

from __future__ import annotations

import math
import os
import statistics
import tempfile

import duckdb
import numpy as np

from gcd_etl_spark.functions.scalar import snapshot_int
from gcd_etl_spark.gcd.oracle import snapshot_oracle_sql
from gcd_etl_spark.gcd.pipeline import build_snapshot, collect_dict_maps
from gcd_etl_spark.gcd.schema import GCD_INPUT_TABLES
from gcd_etl_spark.operators import dedup as D
from gcd_etl_spark.plans import QUERIES
from gcd_etl_spark.sources.catalog import read_table_spread
from gcd_etl_spark.sources.dump import stage_dump_table
from gcd_etl_spark.sources.sinks import register_snapshot_table, write_snapshot

import gen

RUN_DATE = "2024-01-15"
#: The second snapshot partition the analyst probe adds before querying.
ANALYST_DATE = "2024-01-16"
TABLE = "gcd_issue_snapshot"


def _duck(threads: int = 2) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def normalized(cols: list[str], rows: list) -> tuple:
    """Row multiset keyed by column name: order-insensitive in rows and
    columns, exact in values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    )


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, hidden and marker files excluded."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _shuffle_like(name: str) -> bool:
    return "Exchange" in name or "ShuffleRead" in name or "QueryStage" in name


def _plan_nodes(jplan):
    """Every physical operator of an executed plan, through adaptive
    and query-stage wrappers."""
    stack = [jplan]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        yield cls, n
        ch = n.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))


def _node_metrics(n) -> dict[str, int]:
    out = {}
    it = n.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def run_nightly(spark, tracer, inputs: str, schemas: dict, out_dir: str, rep: int) -> dict:
    """The nightly job: stage every table from the dump file, collect
    the dictionaries, build and write the ``RUN_DATE`` snapshot
    partition, register the table. Returns the table path, the staged
    tables and dictionaries, and the parser's counters: arity-mismatch
    tuples, and other-table lines per table."""
    span = tracer.span
    table_path = os.path.join(out_dir, "snapshot")
    accs = {}
    with span("nightly_full", rep=rep):
        tables = {}
        for t in GCD_INPUT_TABLES:
            acc: dict = {}
            with span("sources.dump.stage_dump_table", table=t):
                tables[t] = stage_dump_table(
                    spark,
                    gen.dump_path(inputs),
                    t,
                    schemas[t],
                    out_path=os.path.join(out_dir, "staging", t),
                    metrics=acc,
                )
            accs[t] = acc
        with span("gcd.pipeline.collect_dict_maps"):
            dicts = collect_dict_maps(tables)
        with span("gcd.pipeline.build_snapshot"):
            df = build_snapshot(spark, tables, RUN_DATE, dicts=dicts)
        with span("sources.sinks.write_snapshot", sql_metrics=True):
            write_snapshot(df, table_path, snapshot=snapshot_int(RUN_DATE))
        with span("sources.sinks.register_snapshot_table"):
            register_snapshot_table(spark, TABLE, table_path)
    return {
        "path": table_path,
        "tables": tables,
        "dicts": dicts,
        "arity_mismatch": sum(a["arity_mismatch_tuples"].value for a in accs.values()),
        "other_lines": {t: a["other_table_lines"].value for t, a in accs.items()},
    }


def quarantined(out: dict, expected_other: dict[str, int]) -> int:
    """Tuples and lines the parser set aside that it should not have:
    arity mismatches, plus other-table lines beyond those the generator
    knows the prefilter lets through. 0 on correct parsing."""
    return out["arity_mismatch"] + sum(
        abs(n - expected_other[t]) for t, n in out["other_lines"].items()
    )


class Workload:
    """One workload: ``prepare`` (set-up), ``op`` (one timed operation),
    ``probe`` (untimed extra work of a traced rep), ``check`` (oracle
    comparison of every operation's output), ``layers`` (per-layer
    metrics from the traced reps). ``cycle`` ops make one full pass
    over the workload's op mix; set-up runs ``warmup`` such passes, enough
    that the timed ops no longer speed up as the JIT compiles."""

    name = ""
    cycle = 1
    warmup = 1

    def __init__(self, spark, tracer, inputs: str, work: str, seed: int, sizes: dict):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.sizes = sizes

    def prepare(self) -> None:
        pass

    def op(self, rep: int) -> dict:
        raise NotImplementedError

    def probe(self, rep: int, out: dict) -> None:
        pass

    def check(self, outs: list[dict]) -> list[bool]:
        raise NotImplementedError

    def items(self, out: dict) -> int:
        raise NotImplementedError

    def layers(self, reps: list[int], walls: dict[int, float], outs: dict[int, dict]) -> dict:
        return {}


class NightlyFull(Workload):
    name = "nightly_full"

    def prepare(self) -> None:
        self.schemas = {
            t: gen.spark_schema(os.path.join(self.inputs, f"{t}.parquet")) for t in GCD_INPUT_TABLES
        }
        self.expected_other = gen.expected_other_lines(self.inputs)
        self.analyst = AnalystProbe(self.spark, self.tracer, self.seed, self.sizes)

    def op(self, rep: int) -> dict:
        out = os.path.join(self.work, f"nightly-{rep}")
        return run_nightly(self.spark, self.tracer, self.inputs, self.schemas, out, rep)

    def probe(self, rep: int, out: dict) -> None:
        """The analyst layer, read from what this rep's sink wrote: adds
        the ``ANALYST_DATE`` partition to the table with the staged
        tables, then runs each SQL template once."""
        df = build_snapshot(self.spark, out["tables"], ANALYST_DATE, dicts=out["dicts"])
        write_snapshot(df, out["path"], snapshot=snapshot_int(ANALYST_DATE))
        register_snapshot_table(self.spark, TABLE, out["path"])
        out["queries"] = [self.analyst.query(rep) for _ in TEMPLATES]

    def check(self, outs: list[dict]) -> list[bool]:
        con = _duck()
        try:
            for t in GCD_INPUT_TABLES:
                path = os.path.join(self.inputs, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            con.execute(f"CREATE TEMP TABLE oracle AS {snapshot_oracle_sql(RUN_DATE)}")
            cols = ", ".join(r[0] for r in con.execute("DESCRIBE oracle").fetchall())
            want = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
            verdicts = []
            for out in outs:
                for k in ("tables", "dicts"):
                    out.pop(k, None)
                got = f"SELECT {cols} FROM read_parquet('{_partition(out)}/*.parquet')"
                rows = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
                missing = con.execute(
                    f"SELECT count(*) FROM (SELECT * FROM oracle EXCEPT ALL {got})"
                ).fetchone()[0]
                extra = con.execute(
                    f"SELECT count(*) FROM ({got} EXCEPT ALL SELECT * FROM oracle)"
                ).fetchone()[0]
                out["rows"] = rows
                verdicts.append(
                    quarantined(out, self.expected_other) == 0 and rows == want and missing == 0
                    and extra == 0 and self.analyst.check(out)
                )
        finally:
            con.close()
        if outs and verdicts[-1]:
            # the registered table serves the last run's partition
            n = self.spark.sql(
                f"SELECT count(*) FROM {TABLE} WHERE snapshot = {snapshot_int(RUN_DATE)}"
            ).first()[0]
            verdicts[-1] = n == want
        return verdicts

    def items(self, out: dict) -> int:
        return out.get("rows", 0)

    def layers(self, reps, walls, outs) -> dict:
        tr = self.tracer
        m: dict[str, list[float]] = {}

        def add(k, v):
            m.setdefault(k, []).append(v)

        tuples = sum(self.sizes.values())
        for rep in reps:
            stage = tr.named("sources.dump.stage_dump_table", rep)
            stage_s = tr.duration(stage)
            dicts = tr.named("gcd.pipeline.collect_dict_maps", rep)
            build = tr.named("gcd.pipeline.build_snapshot", rep)
            write = tr.named("sources.sinks.write_snapshot", rep)
            register = tr.named("sources.sinks.register_snapshot_table", rep)
            pipeline = dicts + build + write
            nodes = [n for w in write for n in w.get("sql_nodes", [])]
            add("dump.stage_s", stage_s)
            add("dump.tuples_per_s", tuples / stage_s if stage_s else 0.0)
            add("dump.quarantined_tuples", quarantined(outs[rep], self.expected_other))
            add("dump.other_table_lines", sum(outs[rep]["other_lines"].values()))
            add("dump.share", stage_s / walls[rep])
            add("pipeline.dict_collect_s", tr.duration(dicts))
            add("pipeline.plan_build_s", tr.duration(build))
            add("pipeline.share", tr.duration(pipeline) / walls[rep])
            add("pipeline.exchanges", sum(1 for n in nodes if n["name"] == "Exchange"))
            for c in ("shuffle_bytes", "exec_cpu_s", "gc_s", "spill_bytes"):
                add(f"pipeline.{c}", tr.total(pipeline, c))
            agg_rows, agg_s = _credit_aggregates(nodes)
            add("credits.agg_rows_in", agg_rows)
            add("credits.agg_s", agg_s)
            files, size = _dir_files(_partition(outs[rep]))
            add("sinks.files_written", files)
            add("sinks.bytes_written", size)
            add("sinks.bytes_per_row", size / max(1, outs[rep].get("rows", 0)))
            add("sinks.commit_s", sum(
                n["metrics"].get("job commit time", 0.0) + n["metrics"].get("task commit time", 0.0)
                for n in nodes
            ))
            add("sinks.register_s", tr.duration(register))
        metrics = {k: statistics.median(v) for k, v in m.items()}
        metrics.update(self.analyst.layers(reps, outs))
        return metrics


def _partition(out: dict) -> str:
    """The ``RUN_DATE`` partition a nightly op wrote."""
    return os.path.join(out["path"], f"snapshot={snapshot_int(RUN_DATE)}")


def _credit_aggregates(nodes: list[dict]) -> tuple[float, float]:
    """(rows into the credit groupBy, time in its aggregate operators)
    from the snapshot write's plan graph. The pipeline's only groupBy is
    the credit aggregation; its input is the first operator below the
    partial aggregate that reports an output row count."""
    by_id = {n["id"]: n for n in nodes}
    rows = secs = 0.0
    for n in nodes:
        if "Aggregate" not in n["name"]:
            continue
        secs += n["metrics"].get("time in aggregation build", 0.0)
        kids = [by_id[c] for c in n["children"] if c in by_id]
        if not kids or _shuffle_like(kids[0]["name"]):
            continue  # final aggregate: fed by the exchange
        k = kids[0]
        while "number of output rows" not in k["metrics"] and k["children"]:
            k = by_id.get(k["children"][0], {"metrics": {}, "children": []})
        rows += k["metrics"].get("number of output rows", 0.0)
    return rows, secs


#: Analyst query templates: one SQL text both engines run, or (Spark
#: SQL, DuckDB SQL) where the dialects differ. ``{t}`` is the table;
#: the other fields are seeded parameters.
TEMPLATES = {
    "point_lookup": (
        "SELECT * FROM {t} WHERE snapshot = {snap} AND issue_id = {issue_id}",
    ),
    "publisher_year_rollup": (
        "SELECT publisher_name, series_year_began, count(*) AS n_rows, "
        "count(DISTINCT issue_id) AS n_issues FROM {t} "
        "WHERE snapshot = {snap} AND series_year_began >= {year} "
        "GROUP BY publisher_name, series_year_began",
    ),
    "creator_pencils": (
        "SELECT issue_id, story_id, pencil FROM (SELECT issue_id, story_id, "
        "explode(story_pencils) AS pencil FROM {t} WHERE snapshot = {snap}) "
        "WHERE pencil = '{creator}'",
        "SELECT issue_id, story_id, pencil FROM (SELECT issue_id, story_id, "
        "unnest(story_pencils) AS pencil FROM {t} WHERE snapshot = {snap}) "
        "WHERE pencil = '{creator}'",
    ),
    "title_prefix": (
        "SELECT issue_id, title, series_name, story_id FROM {t} "
        "WHERE snapshot = {snap} AND title LIKE 'Issue title {prefix}%'",
    ),
    "top_series": (
        "SELECT series_id, series_name, count(*) AS n_rows FROM {t} "
        "WHERE snapshot = {snap} GROUP BY series_id, series_name "
        "ORDER BY n_rows DESC, series_id LIMIT {k}",
    ),
}


class AnalystProbe:
    """The analyst layer: a seeded mix of the SQL templates over the
    registered two-partition snapshot table, each query split into a
    plan span and an exec span, with the scan's files, bytes, rows and
    pruned partitions read from the executed plan. Results are checked
    against DuckDB over the same parquet."""

    def __init__(self, spark, tracer, seed: int, sizes: dict):
        self.spark = spark
        self.tracer = tracer
        self._queries = self._query_stream(seed, sizes)

    @staticmethod
    def _query_stream(seed: int, sizes: dict):
        """Seeded endless mix: every cycle runs each template once, in a
        seeded order, with seeded parameters."""
        rng = np.random.default_rng([seed, 3])
        n_issue, n_creator = sizes["gcd_issue"], sizes["gcd_creator"]
        creators = [f"Creator {i}" for i in range(1, n_creator + 1)] + ["Name A", "X", "Z"]
        names = list(TEMPLATES)
        while True:
            for j in rng.permutation(len(names)):
                params = {
                    "snap": snapshot_int((RUN_DATE, ANALYST_DATE)[int(rng.integers(0, 2))]),
                    "issue_id": int(rng.integers(1, n_issue + 1)),
                    "year": int(rng.integers(1930, 2020)),
                    "creator": creators[int(rng.integers(0, len(creators)))],
                    "prefix": int(rng.integers(1, 100)),
                    "k": int(rng.integers(5, 20)),
                }
                yield names[j], params

    def query(self, rep: int) -> dict:
        name, params = next(self._queries)
        span = self.tracer.span
        with span("analyst_sql", rep=rep, template=name):
            with span("analyst_sql.plan"):
                df = self.spark.sql(TEMPLATES[name][0].format(t=TABLE, **params))
                plan = df._jdf.queryExecution().executedPlan()
            with span("analyst_sql.exec"):
                rows = df.collect()
        files = size = scanned = parts = 0
        for cls, n in _plan_nodes(plan):
            if "Scan" in cls:
                mt = _node_metrics(n)
                files += mt.get("numFiles", 0)
                size += mt.get("filesSize", 0)
                scanned += mt.get("numOutputRows", 0)
                parts += mt.get("numPartitions", 0)
        return {
            "template": name,
            "params": params,
            "cols": df.columns,
            "rows": rows,
            "stats": {"files": files, "bytes": size, "scanned": scanned, "pruned": 2 - parts},
        }

    @staticmethod
    def check(out: dict) -> bool:
        """Every probe query of one nightly op matches DuckDB over the
        table that op wrote."""
        if not out.get("queries"):
            return True
        con = _duck()
        try:
            con.execute(
                "CREATE TABLE snap AS SELECT * FROM "
                f"read_parquet('{out['path']}/*/*.parquet', hive_partitioning = true)"
            )
            for q in out["queries"]:
                res = con.execute(TEMPLATES[q["template"]][-1].format(t="snap", **q["params"]))
                want = normalized([d[0] for d in res.description], res.fetchall())
                if normalized(q["cols"], q["rows"]) != want:
                    return False
        finally:
            con.close()
        return True

    def layers(self, reps: list[int], outs: dict[int, dict]) -> dict:
        tr = self.tracer
        m: dict[str, float] = {}
        plan_ms: dict[str, list[float]] = {}
        exec_ms: dict[str, list[float]] = {}
        for q in (s for s in tr.named("analyst_sql") if s["rep"] in reps):
            kids = {s["name"]: s for s in tr.spans if s["parent"] == q["id"]}
            plan_ms.setdefault(q["template"], []).append(
                1000 * tr.duration([kids["analyst_sql.plan"]]))
            exec_ms.setdefault(q["template"], []).append(
                1000 * tr.duration([kids["analyst_sql.exec"]]))
        if not plan_ms:
            return m
        m["sql.plan_ms"] = statistics.median(v for vs in plan_ms.values() for v in vs)
        m["sql.exec_ms"] = statistics.median(v for vs in exec_ms.values() for v in vs)
        for name in TEMPLATES:
            m[f"sql.{name}.plan_ms"] = statistics.median(plan_ms.get(name) or [0.0])
            m[f"sql.{name}.exec_ms"] = statistics.median(exec_ms.get(name) or [0.0])
        queries = [q for r in reps for q in outs[r].get("queries", [])]
        stats = [q["stats"] for q in queries]
        n = max(1, len(stats))
        m["sql.files_read"] = sum(s["files"] for s in stats) / n
        m["sql.bytes_read"] = sum(s["bytes"] for s in stats) / n
        m["sql.partitions_pruned"] = sum(s["pruned"] for s in stats) / n
        m["sql.rows_read_per_row_returned"] = sum(s["scanned"] for s in stats) / max(
            1, sum(len(q["rows"]) for q in queries))
        return m


class CorpusDedup(Workload):
    name = "corpus_dedup"
    warmup = 3

    def prepare(self) -> None:
        self.query = QUERIES["dedup_keep_canonical"]
        self.probes: dict[int, dict] = {}

    def op(self, rep: int) -> dict:
        with self.tracer.span("corpus_dedup", rep=rep):
            with self.tracer.span("operators.dedup.dedup_keep_canonical"):
                df = self.query.build(self.spark, self.inputs)
                rows = df.collect()
        return {"cols": df.columns, "rows": rows}

    def probe(self, rep: int, out: dict) -> None:
        """Each dedup operator on its own, materialized in its own span:
        the per-stage split the fused plan cannot show."""
        span = self.tracer.span
        docs = read_table_spread(self.spark, self.inputs, "documents")

        def run(df) -> int:
            return df._jdf.queryExecution().toRdd().count()

        with span("dedup_probe", rep=rep):
            with span("operators.dedup.minhash_signature_table"):
                run(D.minhash_signature_table(docs, portable=True))
            with span("operators.dedup.minhash_lsh_candidates"):
                cands = D.minhash_lsh_candidates(docs, portable=True)
                n_cand = run(cands)
            with span("operators.dedup.jaccard_pairs"):
                pairs = D.jaccard_pairs(docs, cands, threshold=0.5).select("id_a", "id_b")
                n_pairs = run(pairs)
            with span("operators.dedup.connected_components", sql_metrics=True) as cc:
                run(D.connected_components(pairs, docs, id_col="doc_id"))
        self.probes[rep] = {"candidates": n_cand, "verified": n_pairs, "cc": cc}

    def check(self, outs: list[dict]) -> list[bool]:
        con = _duck()
        try:
            path = os.path.join(self.inputs, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            res = con.execute(self.query.oracle)
            want = normalized([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        return [normalized(o["cols"], o["rows"]) == want for o in outs]

    def items(self, out: dict) -> int:
        return len(out["rows"])

    def layers(self, reps, walls, outs) -> dict:
        tr = self.tracer
        m: dict[str, list[float]] = {}
        for rep in reps:
            p = self.probes[rep]
            sig = tr.named("operators.dedup.minhash_signature_table", rep)
            main = tr.named("operators.dedup.dedup_keep_canonical", rep)
            vals = {
                "dedup.signature_s": tr.duration(sig),
                "dedup.candidate_pairs": p["candidates"],
                "dedup.verified_pairs": p["verified"],
                "dedup.candidate_precision": p["verified"] / max(1, p["candidates"]),
                # one label-sum probe job per round, plus the initial one
                "dedup.cc_rounds": max(0, p["cc"].get("sql_executions", 1) - 1),
                "dedup.shuffle_bytes": tr.total(main, "shuffle_bytes"),
            }
            for k, v in vals.items():
                m.setdefault(k, []).append(v)
        return {k: statistics.median(v) for k, v in m.items()}


WORKLOADS = {w.name: w for w in (NightlyFull, CorpusDedup)}
