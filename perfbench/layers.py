"""The traced run's per-layer metrics and spans.

Layers are named after the engine's modules: ``session``, ``contract``,
``sources``, ``op`` (the operators, per query), ``spark`` (the engine,
from the event log), ``mat`` (materialization calls), ``py`` (the
Python/Arrow boundary) and ``trace`` (the tracer's own cost).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import time

from perfbench import eventlog
from perfbench.gen import WORKLOAD_INPUTS

#: pyspark's public materialization calls, wrapped in traced sweeps.
MAT_CALLS = ("localCheckpoint", "checkpoint", "persist", "cache")
#: pyspark's public Python-evaluation entry points, counted in traced
#: sweeps: DataFrame map operators and grouped pandas/Arrow operators.
PY_FRAME_CALLS = ("mapInPandas", "mapInArrow")
PY_GROUP_CALLS = ("applyInPandas", "applyInArrow")


class Tracer:
    """Installs counting/timing wrappers around pyspark's public
    materialization and Python-evaluation calls for one sweep."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []
        self.mat_calls = 0
        self.mat_s = 0.0
        self.py_calls = 0

    def _wrap_mat(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.mat_calls += 1
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.mat_s += time.perf_counter() - t0

        return wrapper

    def _wrap_py(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.py_calls += 1
            return fn(*a, **kw)

        return wrapper

    def _patch(self, owner, name, wrap) -> None:
        if hasattr(owner, name):
            self._saved.append((owner, name, owner.__dict__.get(name)))
            setattr(owner, name, wrap(getattr(owner, name)))

    def install(self, spark) -> None:
        """Wrap the methods on the session's concrete DataFrame and
        GroupedData classes (pyspark's classic implementations)."""
        df = spark.range(1)
        frame, grouped = type(df), type(df.groupBy("id"))
        for name in MAT_CALLS:
            self._patch(frame, name, self._wrap_mat)
        for name in PY_FRAME_CALLS:
            self._patch(frame, name, self._wrap_py)
        for name in PY_GROUP_CALLS:
            self._patch(grouped, name, self._wrap_py)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, own = self._saved.pop()
            if own is None:  # the method was inherited
                delattr(owner, name)
            else:
                setattr(owner, name, own)

    def take(self) -> dict:
        out = {"mat.calls": self.mat_calls, "mat.s": self.mat_s,
               "py.eval_calls": self.py_calls}
        self.mat_calls, self.mat_s, self.py_calls = 0, 0.0, 0
        return out


def scan_inputs(spark, data: str, layout: dict, workload: str) -> dict:
    """``sources.load_table`` of each scaled input to the noop sink."""
    from mapreducekmean_spark.sources import load_table

    t0 = time.perf_counter()
    parts = 0
    for name in WORKLOAD_INPUTS[workload]:
        df = load_table(spark, data, name)
        parts += df.rdd.getNumPartitions()
        df.write.format("noop").mode("overwrite").save()
    return {
        "sources.scan_s": time.perf_counter() - t0,
        "sources.scan_partitions": parts,
        "sources.input_rows": sum(layout[n]["rows"] for n in WORKLOAD_INPUTS[workload]),
        "sources.input_bytes": sum(layout[n]["bytes"] for n in WORKLOAD_INPUTS[workload]),
    }


UNITS = {
    "session.start_s": "s",
    "contract.fill_s": "s",
    "contract.verify_s": "s",
    "sources.scan_s": "s",
    "sources.scan_partitions": "count",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "op.build_s": "s",
    "op.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.job_s": "s",
    "spark.driver_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.jit_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_records": "count",
    "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "mat.calls": "count",
    "mat.s": "s",
    "py.eval_calls": "count",
    "py.bytes_sent": "bytes",
    "py.bytes_recv": "bytes",
    "py.rows_recv": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(record: dict, spans: list[dict], scan: dict, log_dir: str,
              workload: str, out_dir: str) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of the traced run as ``name -> (value,
    unit)``; writes ``metrics.json`` (with the per-query breakdown
    ``op.<query>.*``), ``spans.json`` and the event log under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, "eventlog.json")
    shutil.move(eventlog.find_log(log_dir), log)
    jobs, stages = eventlog.parse(log)
    cores = record["env"]["defaultParallelism"]
    timed = record["sweeps"]
    by_sweep: dict[str, list[eventlog.Job]] = {}
    by_query: dict[tuple[str, str], list[eventlog.Job]] = {}
    for j in jobs:
        w, sweep, query = j.label
        if w == workload:
            by_sweep.setdefault(sweep, []).append(j)
            by_query.setdefault((sweep, query), []).append(j)

    counters = [
        eventlog.engine_counters(by_sweep.get(s["sweep"], []), stages,
                                 s["wall_s"], cores)
        for s in timed
    ]
    m: dict[str, float] = {
        "session.start_s": record["session_s"],
        "contract.fill_s": sum(f["wall_s"] for f in record["fill"]),
        "contract.verify_s": record["verify_s"],
        **scan,
    }
    for key in counters[0]:
        m[key] = _med([c[key] for c in counters])
    m["spark.jit_cpu_s"] = _med([s["jit_cpu_s"] for s in timed])
    m["op.build_s"] = _med([sum(q["build_s"] for q in s["queries"]) for s in timed])
    m["op.exec_s"] = _med([sum(q["exec_s"] for q in s["queries"]) for s in timed])
    traced = [s for s in timed if s["traced"]]
    plain = [s for s in timed if not s["traced"]]
    for key in ("mat.calls", "mat.s", "py.eval_calls"):
        m[key] = _med([s[key] for s in traced])
    m["trace.wall_s"] = _med([s["wall_s"] for s in traced])
    m["trace.overhead_s"] = m["trace.wall_s"] - _med([s["wall_s"] for s in plain])

    per_query = {}
    for name in record["queries"]:
        rows = [q for s in timed for q in s["queries"] if q["query"] == name]
        per_query[f"op.{name}.build_s"] = _med([q["build_s"] for q in rows])
        per_query[f"op.{name}.exec_s"] = _med([q["exec_s"] for q in rows])
        per_query[f"op.{name}.jobs"] = _med(
            [len(by_query.get((s["sweep"], name), [])) for s in timed]
        )
        qc = [
            eventlog.engine_counters(by_query.get((s["sweep"], name), []), stages,
                                     q["build_s"] + q["exec_s"], cores)
            for s in timed for q in s["queries"] if q["query"] == name
        ]
        # self time: the query's span minus the part its jobs cover
        for key in ("spark.driver_s", "spark.job_s", "spark.shuffle_write_bytes",
                    "spark.result_bytes", "py.bytes_sent", "py.bytes_recv"):
            per_query[f"op.{name}.{key.split('.', 1)[1]}"] = _med([c[key] for c in qc])

    with open(os.path.join(out_dir, "metrics.json"), "w") as fh:
        json.dump({"workload": workload, "seed": record["seed"],
                   "metrics": m, "per_query": per_query,
                   "env": record["env"], "layout": record["layout"]},
                  fh, indent=1)
    with open(os.path.join(out_dir, "spans.json"), "w") as fh:
        json.dump(build_spans(workload, spans, jobs, stages), fh)
    return {k: (float(v), UNITS[k]) for k, v in m.items()}


def build_spans(workload: str, spans: list[dict], jobs, stages) -> dict:
    """workload -> sweep -> query -> build/exec -> job -> stage."""
    stage_by_id: dict[int, list] = {}
    for st in stages:
        stage_by_id.setdefault(st.stage_id, []).append(st)
    jobs_by_key: dict[tuple[str, str, str], list] = {}
    for j in jobs:
        w, sweep, query = j.label
        jobs_by_key.setdefault((sweep, query, j.phase), []).append(j)

    def job_span(j) -> dict:
        return {
            "kind": "job", "name": str(j.job_id),
            "start": j.start_ms / 1e3, "end": j.end_ms / 1e3,
            "tasks": j.tasks, "ok": j.succeeded,
            "children": [
                {"kind": "stage", "name": f"{st.stage_id}.{st.attempt}",
                 "start": st.submit_ms / 1e3, "end": st.end_ms / 1e3,
                 "tasks": st.tasks, "label": st.name}
                for sid in j.stage_ids for st in stage_by_id.get(sid, ())
            ],
        }

    sweeps = [s for s in spans if s["kind"] == "sweep"]
    root = {"kind": "workload", "name": workload,
            "start": min((s["start"] for s in sweeps), default=0.0),
            "end": max((s["end"] for s in sweeps), default=0.0),
            "children": []}
    for s in sweeps:
        node = dict(s, children=[])
        for q in spans:
            if q["kind"] != "query" or q["sweep"] != s["name"]:
                continue
            qnode = {"kind": "query", "name": q["name"],
                     "start": q["start"], "end": q["end"], "children": []}
            for phase in ("build", "exec"):
                lo, hi = q[phase]
                qnode["children"].append({
                    "kind": phase, "name": phase, "start": lo, "end": hi,
                    "children": [job_span(j) for j in
                                 jobs_by_key.get((s["name"], q["name"], phase), [])],
                })
            node["children"].append(qnode)
        root["children"].append(node)
    return root
