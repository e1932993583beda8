"""Benchmark entry point: one workload, one seed, one run.

    python3 gcdbench/run.py --workload nightly_full --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed`` under a fresh work directory inside the checkout
(``.bench_work/``, removed at exit), starts Spark on ``local[N]``
(N = min(MAX_CORES, cores)) with the program's own session defaults,
sets up the workload, including warm-up passes
over its op mix, so ``setup_s`` carries JVM start, JIT, codegen and
expression-cache warm-up. It then runs operations back to back from
one client (a closed loop) for ``--seconds``, checks every output
against a DuckDB oracle, and prints the metrics. The last stdout line
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Operations and set-up are timed in CPU seconds of the whole process
tree (``cpu_seconds``), not wall seconds: on a host that shares its
CPUs, wall time follows the CPU time the hypervisor steals, which no
change to the program controls. Wall latencies are reported by traced
runs. ``setup_s`` is one cold set-up per run: a second one would need
a second JVM, which costs as much again.

``--workload all`` runs every workload in turn, each in its own
process, and merges their results into one last line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations, reports the per-layer metrics from the
traced ones plus the tracing overhead (traced / untraced median
operation time), and writes every span to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

#: Scale per workload (table sizes are gen.BASE_ROWS / gen.BASE_DOCS x scale).
SCALES = {"nightly_full": 0.5, "corpus_dedup": 1.0}
MAX_CORES = 2

#: Metric names and units, with their bounds, live in BENCHMARK.json
#: at the checkout root: ``end_to_end`` ones print with --trace 0,
#: ``per_layer`` ones with --trace 1.
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(SPEC, encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


#: Log markers of a whole-stage or expression codegen fallback.
_FALLBACK_MARKERS = (
    "grows beyond 64 KB",
    "JaninoRuntimeException",
    "Whole-stage codegen disabled",
    "Expression codegen error",
    "falling back to interpreter mode",
)

def _log_conf(work: str) -> str:
    """log4j2 config: WARN to stderr and to a file scanned for codegen
    fallbacks. Returns the log file path."""
    log = os.path.join(work, "spark.log")
    with open(log + ".properties", "w") as f:
        f.write(
            "rootLogger.level = warn\n"
            "rootLogger.appenderRef.console.ref = console\n"
            "rootLogger.appenderRef.file.ref = file\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %p %c{1}: %m%n\n"
            "appender.file.type = File\n"
            "appender.file.name = file\n"
            f"appender.file.fileName = {log}\n"
            "appender.file.layout.type = PatternLayout\n"
            "appender.file.layout.pattern = %p %c{1}: %m%n\n"
        )
    return log


def start_spark(work: str):
    """Spark on local[N] with every scratch path inside ``work``."""
    from gcd_etl_spark.session import get_spark

    log = _log_conf(work)
    java_opts = (
        f"-Dlog4j2.configurationFile=file:{log}.properties "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    spark = get_spark(
        "gcdbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
        },
    )
    return spark, log


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(spark) -> float:
    """CPU time (user + system) used so far by this Python driver, the
    Spark JVM and every process under the JVM (the Python workers),
    including their exited children. Unlike wall time, it does not grow
    with time the host's hypervisor steals from this machine's CPUs."""
    root = spark.sparkContext._gateway.proc.pid
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                pass
    tree, frontier = set(), {root}
    while frontier:
        tree |= frontier
        frontier = {p for p, st in stats.items() if int(st[1]) in frontier} - tree
    # fields after the command name: 0 state, 1 ppid, ... 11-14 utime,
    # stime, cutime, cstime
    ticks = sum(int(v) for p in tree if p in stats for v in stats[p][11:15])
    me = resource.getrusage(resource.RUSAGE_SELF)
    return ticks / _TICK + me.ru_utime + me.ru_stime


def percentile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method; the value itself for one sample)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def run(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    scale: float | None = None,
    mutate=None,
) -> dict:
    """One benchmark run. Returns the result object plus run details.
    ``mutate``, if given, is called with the list of op outputs before
    they are checked (the smoke test corrupts one through it)."""
    import gen
    from spans import Tracer
    from workloads import WORKLOADS

    scale = SCALES[workload] if scale is None else scale
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "tmp", "local"):
        os.makedirs(os.path.join(work, d))
    saved_env = dict(os.environ)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no hsperfdata file in /tmp
        SPARK_GRAFT_CPUS=str(min(MAX_CORES, len(os.sched_getaffinity(0)))),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    saved_tempdir, tempfile.tempdir = tempfile.tempdir, os.path.join(work, "tmp")
    inputs = os.path.join(work, "inputs")
    spark = None
    try:
        if workload == "corpus_dedup":
            sizes = {"documents": gen.write_documents(inputs, seed, scale)}
        else:
            sizes = gen.write_gcd(inputs, seed, scale)
        t_engine = time.perf_counter()
        spark, log = start_spark(work)
        spark.range(1).count()
        engine_start_s = time.perf_counter() - t_engine
        tracer = Tracer(spark, enabled=trace)
        wl = WORKLOADS[workload](spark, tracer, inputs, work, seed, sizes)
        wl.prepare()
        for _ in range(wl.warmup * wl.cycle):  # warm-up: whole passes over the op mix
            out = wl.op(rep=-1)
            if trace:
                wl.probe(-1, out)
        setup_s = cpu_seconds(spark)  # all of this process tree's CPU so far

        walls: dict[int, float] = {}
        cpus: dict[int, float] = {}
        outs: dict[int, dict] = {}
        errors = 0
        traced: list[int] = []
        deadline = time.perf_counter() + seconds
        rep = 0
        while True:
            # whole cycles of the workload's op mix alternate untraced/traced
            tracer.active = trace and (rep // wl.cycle) % 2 == 1
            c0, t0 = cpu_seconds(spark), time.perf_counter()
            try:
                out = wl.op(rep)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                print(f"op {rep} failed: {exc!r}", file=sys.stderr)
                errors += 1
                out = None
            wall, cpu = time.perf_counter() - t0, cpu_seconds(spark) - c0
            if out is not None:
                walls[rep], cpus[rep], outs[rep] = wall, cpu, out
                if tracer.active:
                    traced.append(rep)
                    wl.probe(rep, out)
            tracer.active = False
            tracer.collect()
            rep += 1
            # a traced run needs one untraced and one traced cycle at least
            if time.perf_counter() >= deadline and rep >= (2 * wl.cycle if trace else 1):
                break
        rss = peak_rss_mb(spark)

        order = sorted(outs)
        if mutate is not None:
            mutate([outs[r] for r in order])
        verdicts = dict(zip(order, wl.check([outs[r] for r in order])))
        attempted = rep
        failed = errors + sum(1 for ok in verdicts.values() if not ok)
        info = {
            "workload": workload,
            "seed": seed,
            "scale": scale,
            "sizes": sizes,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "seconds": seconds,
            "trace": int(trace),
        }
        plain = [r for r in order if r not in traced]  # every op when untraced
        lat = [1000 * walls[r] for r in plain] or [0.0]
        items = sum(wl.items(outs[r]) for r in plain)
        if trace:
            units = metric_units("per_layer")
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(wl.layers(traced, walls, outs))
            metrics.update({
                "latency_p50_ms": statistics.median(lat),
                "latency_p90_ms": percentile(lat, 90),
                "items_per_s": items / max(1e-9, sum(walls[r] for r in plain)),
            })
            roots = [tracer.named(workload, r)[0] for r in traced]
            for c in ("jobs", "stages", "tasks"):
                metrics[f"spark.{c}"] = statistics.median(
                    tracer.total([s], c) for s in roots) if roots else 0.0
            with open(log, errors="replace") as f:
                text = f.read()
            metrics["spark.codegen_fallbacks"] = sum(text.count(m) for m in _FALLBACK_MARKERS)
            metrics["setup.engine_start_s"] = engine_start_s
            metrics["peak_rss_mb"] = rss
            if traced and plain:
                metrics["trace.overhead_ratio"] = statistics.median(
                    walls[r] for r in traced) / statistics.median(walls[r] for r in plain)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            tracer.write(os.path.join(ROOT, ".bench_out", f"spans-{workload}-{seed}.json"), info)
        else:
            # The cheapest op: GC cycles, JIT compiles still in progress
            # and cache-stealing neighbours only ever add CPU to an op.
            cpu_op = min(cpus.values(), default=0.0) or 1e-9
            metrics = {
                "setup_s": setup_s,
                "cpu_s_per_op": cpu_op,
                "items_per_cpu_s": items / max(1, len(plain)) / cpu_op,
                "success_ratio": 1 - failed / max(1, attempted),
            }
            units = metric_units("end_to_end")
        return {
            "info": info,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            },
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tempdir


def run_all(args) -> int:
    """Every workload in its own process, one after another. Prints each
    one's lines; the last line merges their results, naming each metric
    ``<workload>.<metric>``."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in SCALES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.scale is not None:
            cmd += ["--scale", str(args.scale)]
        lines = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        result = json.loads(lines[-1])
        merged["correct"] = merged["correct"] and result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*SCALES, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None, help="override the workload's scale")
    args = p.parse_args(argv)
    import gcd_etl_spark  # noqa: F401 — fail fast outside a source checkout

    if args.workload == "all":
        return run_all(args)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    info, result = out["info"], out["result"]
    print(json.dumps(info, sort_keys=True))
    for name, m in result["metrics"].items():
        print(f"{args.workload:>13} {name:<36} {m['value']:>16.4f} {m['unit']}")
    print(
        f"{args.workload:>13} attempted={result['attempted']} failed={result['failed']} "
        f"correct={str(result['correct']).lower()}"
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
