"""End-to-end benchmark of the engine's contract queries on seeded inputs.

    python3 perfbench/run.py --workload lloyd --seed 1 --seconds 10 --trace 0

Run from the repository root. One run:

1. writes the workload's inputs for ``--seed`` (cached per seed under
   ``.perfbench/data``), outside every timed window;
2. set-up (``setup_s``): starts the session with ``session.get_spark``
   and runs ``1 + FILL_SWEEPS`` untimed sweeps on the workload's own
   inputs that fill the caches (JIT, codegen, Python workers, landed
   indexes); the first collects each query's rows;
3. runs timed sweeps back to back for ``--seconds`` (at least
   ``MIN_SWEEPS``). One sweep builds every query of the workload once
   and executes it once to the noop sink;
4. stops Spark and the memory sampler, then checks the collected rows
   against each query's DuckDB oracle, outside every measured figure;
5. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1``.

End-to-end metrics: ``wall_s`` and ``cpu_s`` are medians over the
untraced timed sweeps of the sweep's wall time and of the process tree's
CPU time (driver Python, JVM, Python workers) minus the JVM's JIT
compiler threads, which are still compiling in a run this short and are
reported as ``spark.jit_cpu_s`` instead (the JVM keeps every compiler
thread alive, so their CPU is read exactly). ``peak_rss_mb`` is the peak of
the tree's resident memory with shared pages counted once (summed PSS).
``setup_s`` runs from process start to the first timed sweep.
``ok_ratio`` is 1 - failed/attempted query executions, where a failure is
an exception or an output that fails its oracle check.

With ``--trace 1`` the Spark event log is on, half of the timed sweeps run
with the materialization and Python-evaluation wrappers installed, and
``.perfbench/trace/<workload>-<seed>/`` receives ``spans.json`` and
``metrics.json`` (every per-layer metric, per query too).

Everything the run writes (inputs, temp files, Spark local dirs, event
logs, results) stays under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()

#: The queries of each workload, in sweep order.
WORKLOADS = {
    "lloyd": ["kmeans_full", "centroid_update", "wssse"],
    "vectors": ["ann_ivf", "pq_adc_topk"],
}
MIN_SWEEPS = 3
#: Plain set-up sweeps after the collecting one. The JIT compiler is
#: busy for several sweeps (on 4 vCPUs, about 22 CPU-s in the first
#: sweep of a run, 3 in the fourth, 1 in the eighth); these take most of
#: it out of the timed window, and each one more adds 4-5 s to a run.
FILL_SWEEPS = 2
DRIVER_MEM = "2g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str, trace: bool) -> str | None:
    """Point every temp/local/log directory of the run into ``work`` and
    set the session knobs through the engine's environment hooks."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # no hsperfdata file (the JVM would write it under /tmp), and no
        # retiring of idle JIT compiler threads, so procstat reads their
        # CPU whole
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            # one plain JSON-lines file, readable without a zstd codec
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    prior = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [prior, *confs]))
    return log_dir


def _inputs(root: str, workload: str, seed: int, nproc: int) -> tuple[str, dict, float]:
    from perfbench import gen

    data = os.path.join(root, ".perfbench", "data", f"{workload}-{seed}")
    marker = os.path.join(data, "layout.json")
    t0 = time.perf_counter()
    if not os.path.exists(marker):
        layout = gen.write_inputs(workload, seed, data, nproc)
        with open(marker, "w") as fh:
            json.dump(layout, fh)
    with open(marker) as fh:
        layout = json.load(fh)
    return data, layout, time.perf_counter() - t0


class Sweeper:
    """Runs the workload's queries; every query's jobs carry the job
    description ``<workload>:<sweep>:<query>`` and the local property
    ``perfbench.phase`` = build | exec."""

    def __init__(self, spark, workload: str, data: str) -> None:
        from mapreducekmean_spark.contract import registry
        from mapreducekmean_spark.functions.mat import clear_persistent_rdds

        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.data = data
        reg = registry()
        self.queries = [reg[name] for name in WORKLOADS[workload]]
        self._clear = clear_persistent_rdds
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.spans: list[dict] = []
        self.fill: list[dict] = []
        #: (sweep, query, columns, rows) of every collecting execution
        self.collected: list[tuple] = []

    def _tag(self, sweep: str, query: str, phase: str) -> None:
        self.sc.setJobDescription(f"{self.workload}:{sweep}:{query}")
        self.sc.setLocalProperty("perfbench.phase", phase)

    def run_query(self, sweep: str, q, collect: bool = False) -> dict:
        self.attempted += 1
        rec = {"query": q.name, "build_s": 0.0, "exec_s": 0.0, "ok": False}
        t0 = t1 = t2 = time.time()
        try:
            self._tag(sweep, q.name, "build")
            b0 = time.perf_counter()
            df = q.fn(self.spark, self.data)
            rec["build_s"] = time.perf_counter() - b0
            t1 = time.time()
            self._tag(sweep, q.name, "exec")
            e0 = time.perf_counter()
            if collect:
                rows = [tuple(r) for r in df.collect()]
                self.collected.append((sweep, q, df.columns, rows))
            else:
                df.write.format("noop").mode("overwrite").save()
            rec["exec_s"] = time.perf_counter() - e0
            t2 = time.time()
            rec["ok"] = True
        except Exception as exc:  # a failed execution is counted, not fatal
            self.failures[f"{sweep}:{q.name}"] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            self.sc.setJobDescription(None)
            self.sc.setLocalProperty("perfbench.phase", None)
            self._clear(self.spark)
        self.spans.append(
            {"kind": "query", "name": q.name, "sweep": sweep,
             "start": t0, "end": time.time(), "build": (t0, t1), "exec": (t1, t2)}
        )
        return rec

    def sweep(self, sweep: str, collect: bool = False) -> dict:
        from perfbench import procstat

        pids = procstat.tree_pids()
        jit0, cpu0 = procstat.jit_threads_cpu_s(pids), procstat.tree_cpu_s(pids)
        t0, w0 = time.time(), time.perf_counter()
        recs = [self.run_query(sweep, q, collect) for q in self.queries]
        wall = time.perf_counter() - w0
        pids = procstat.tree_pids()
        jit = procstat.jit_delta_s(jit0, procstat.jit_threads_cpu_s(pids))
        # the JIT compiler's CPU is warm-up the fill sweeps do not finish
        # in a short run; it is reported on its own, not in cpu_s
        cpu = procstat.tree_cpu_s(pids) - cpu0 - jit
        out = {"sweep": sweep, "wall_s": wall, "cpu_s": cpu, "jit_cpu_s": jit,
               "start": t0, "end": time.time(), "queries": recs}
        self.spans.append({"kind": "sweep", "name": sweep, "start": t0,
                           "end": out["end"], "wall_s": wall})
        return out


def _environment(spark, load_start) -> dict:
    import pyspark

    from perfbench.procstat import loadavg

    jvm = spark.sparkContext._jvm
    return {
        "spark.master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it (its
    Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _measure(spark, args, data: str, layout: dict):
    """Set-up sweeps, then the timed sweeps; returns (sweeper, scan
    metrics, setup_s, timed sweep records, steal share while timed)."""
    from perfbench import layers, procstat

    sweeper = Sweeper(spark, args.workload, data)
    # set-up: a sweep that collects the rows for the oracle check, then
    # plain ones; together they fill the caches
    sweeper.fill.append(sweeper.sweep("verify", collect=True))
    for i in range(FILL_SWEEPS):
        sweeper.fill.append(sweeper.sweep(f"fill{i}"))
    scan = layers.scan_inputs(spark, data, layout, args.workload) if args.trace else {}
    setup_s = time.perf_counter() - T_START

    tracer = layers.Tracer() if args.trace else None
    sweeps = []
    timed_cpu_times = procstat.cpu_times()
    w0 = time.perf_counter()
    while len(sweeps) < MIN_SWEEPS or time.perf_counter() - w0 < args.seconds:
        traced = tracer is not None and len(sweeps) % 2 == 1
        if traced:
            tracer.install(spark)
        try:
            rec = sweeper.sweep(str(len(sweeps)))
        finally:
            if traced:
                tracer.uninstall()
        rec["traced"] = traced
        if traced:
            rec.update(tracer.take())
        sweeps.append(rec)
    steal = procstat.steal_share(timed_cpu_times, procstat.cpu_times())
    return sweeper, scan, setup_s, sweeps, steal


def _verify(sweeper: Sweeper, data: str, nproc: int) -> float:
    """Check every collected output against its DuckDB oracle; a mismatch
    is a failed execution. Runs after the session and the memory sampler
    have stopped, so DuckDB's time and memory stay out of the metrics."""
    from perfbench import oracle

    t0 = time.perf_counter()
    con = oracle.connect(data, nproc)
    try:
        for sweep, q, cols, rows in sweeper.collected:
            problem = oracle.check(con, q.oracle, cols, rows)
            if problem:
                sweeper.failures[f"{sweep}:{q.name}"] = problem
    finally:
        con.close()
    return time.perf_counter() - t0


def main(argv=None) -> int:
    args = _args(argv)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(os.path.join(root, "mapreducekmean_spark")):
        print(f"perfbench: no mapreducekmean_spark/ package in {root}; the "
              "benchmark runs from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import layers, procstat

    load_start = procstat.loadavg()
    nproc = len(os.sched_getaffinity(0))
    data, layout, gen_s = _inputs(root, args.workload, args.seed, nproc)
    work = os.path.join(root, ".perfbench", "run", f"{os.getpid()}")
    log_dir = _prepare_env(work, bool(args.trace))

    sampler = procstat.MemorySampler().start()
    t_setup = time.perf_counter()
    from mapreducekmean_spark import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_setup
    try:
        sweeper, scan, setup_s, sweeps, steal = _measure(
            spark, args, data, layout
        )
        env = _environment(spark, load_start)
        env["timed_steal_share"] = steal
    finally:
        peak = sampler.stop()
        _stop_spark(spark)
    verify_s = _verify(sweeper, data, nproc)

    # drift check: a run whose timed sweeps slow down from first to last
    # by more than the wall_s bound is flagged (still warming up, or the
    # machine got busier)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bound = next(m["bound"] for m in json.load(fh)["end_to_end"]
                     if m["name"] == "wall_s")
    walls = [s["wall_s"] for s in sweeps if not s["traced"]]
    drift = (walls[-1] - walls[0]) / walls[0]
    if drift > bound:
        print(f"[perfbench] drift: last timed sweep {drift:+.1%} vs first",
              file=sys.stderr)
    failed = len(sweeper.failures)
    if failed:
        print("[perfbench] failed: " + ", ".join(sorted(sweeper.failures)),
              file=sys.stderr)
    e2e = {
        "wall_s": (statistics.median(walls), "s"),
        "cpu_s": (statistics.median(
            [s["cpu_s"] for s in sweeps if not s["traced"]]), "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "setup_s": (setup_s, "s"),
        "ok_ratio": (1.0 - failed / sweeper.attempted, "ratio"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "queries": WORKLOADS[args.workload], "layout": layout,
        "gen_s": gen_s, "session_s": session_s, "fill": sweeper.fill,
        "verify_s": verify_s,
        "sweeps": sweeps, "n_sweeps": len(walls), "drift": drift,
        "drift_flag": drift > bound, "failures": sweeper.failures,
        "env": env, "metrics": {k: v for k, (v, _) in e2e.items()},
    }
    if args.trace:
        per_layer = layers.per_layer(
            record, sweeper.spans, scan, log_dir, args.workload,
            os.path.join(root, ".perfbench", "trace", f"{args.workload}-{args.seed}"),
        )
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    res_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(
        res_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"
    ), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sweeper.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
