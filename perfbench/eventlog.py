"""Parse a Spark event log (JSON lines) into per-job records and
per-sweep / per-query engine counters.

Jobs are attributed through their job description, which the benchmark
sets to ``<workload>:<sweep>:<query>`` around every query, and through
the ``perfbench.phase`` local property (``build`` or ``exec``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

#: SQL-metric names of the Python evaluation operators (ArrowEvalPython,
#: MapInArrow, FlatMapGroupsInPandas, ...).
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_ROWS = "number of output rows"


@dataclass
class Job:
    job_id: int
    description: str
    phase: str
    start_ms: int
    end_ms: int = 0
    succeeded: bool = True
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    output_bytes: int = 0
    py_bytes_sent: int = 0
    py_bytes_recv: int = 0
    py_rows_recv: int = 0

    @property
    def label(self) -> tuple[str, str, str]:
        """(workload, sweep, query) from the description, or blanks."""
        parts = self.description.split(":")
        if len(parts) != 3:
            return ("", "", "")
        return parts[0], parts[1], parts[2]


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str
    submit_ms: int
    end_ms: int
    tasks: int


def _walk_plan(info: dict, py_ids: set[int]) -> None:
    """Collect the output-row accumulator ids of Python evaluation
    nodes in a ``sparkPlanInfo`` tree."""
    name = info.get("nodeName", "")
    if "Python" in name or "InPandas" in name or "InArrow" in name:
        for m in info.get("metrics", ()):
            if m.get("name") == PY_ROWS:
                py_ids.add(int(m["accumulatorId"]))
    for child in info.get("children", ()):
        _walk_plan(child, py_ids)


def find_log(log_dir: str) -> str:
    """The single application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])


def parse(path: str) -> tuple[list[Job], list[Stage]]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stages: list[Stage] = []
    py_row_ids: set[int] = set()
    # task-end accumulables arrive after the SQL start that declares them
    # only in the usual case; keep per-job raw updates and resolve at end
    pending_rows: list[tuple[int, int, int]] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    job_id=ev["Job ID"],
                    description=props.get("spark.job.description", ""),
                    phase=props.get("perfbench.phase", ""),
                    start_ms=ev["Submission Time"],
                    stage_ids=list(ev.get("Stage IDs", ())),
                )
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
                    result = ev.get("Job Result", {}).get("Result", "")
                    job.succeeded = result == "JobSucceeded"
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages.append(
                        Stage(
                            stage_id=info["Stage ID"],
                            attempt=info.get("Stage Attempt ID", 0),
                            name=info.get("Stage Name", ""),
                            submit_ms=info["Submission Time"],
                            end_ms=info["Completion Time"],
                            tasks=info.get("Number of Tasks", 0),
                        )
                    )
            elif kind in (
                "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                _walk_plan(ev.get("sparkPlanInfo", {}), py_row_ids)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID", -1), -1))
                if job is None:
                    continue
                _add_task(job, ev, pending_rows)
    for job_id, acc_id, update in pending_rows:
        if acc_id in py_row_ids:
            jobs[job_id].py_rows_recv += update
    return sorted(jobs.values(), key=lambda j: j.job_id), stages


def _add_task(job: Job, ev: dict, pending_rows: list) -> None:
    job.tasks += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if reason != "Success":
        job.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    job.executor_run_ms += m.get("Executor Run Time", 0)
    job.executor_cpu_ns += m.get("Executor CPU Time", 0)
    job.gc_ms += m.get("JVM GC Time", 0)
    job.result_bytes += m.get("Result Size", 0)
    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )
    sw = m.get("Shuffle Write Metrics") or {}
    job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    job.shuffle_records += sw.get("Shuffle Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
        name = acc.get("Name")
        try:
            update = int(acc.get("Update", 0))
        except (TypeError, ValueError):
            continue
        if name == PY_SENT:
            job.py_bytes_sent += update
        elif name == PY_RECV:
            job.py_bytes_recv += update
        elif name == PY_ROWS:
            pending_rows.append((job.job_id, int(acc["ID"]), update))


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def engine_counters(
    jobs: list[Job], stages: list[Stage], wall_s: float, cores: int
) -> dict[str, float]:
    """Summed engine counters of one group of jobs (one sweep)."""
    ids = {sid for j in jobs for sid in j.stage_ids}
    job_s = _union_ms([(j.start_ms, j.end_ms) for j in jobs if j.end_ms]) / 1e3
    run_s = sum(j.executor_run_ms for j in jobs) / 1e3
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(1 for s in stages if s.stage_id in ids),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.failed_tasks": sum(j.failed_tasks for j in jobs),
        "spark.job_s": job_s,
        "spark.driver_s": max(0.0, wall_s - job_s),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j.executor_cpu_ns for j in jobs) / 1e9,
        "spark.gc_s": sum(j.gc_ms for j in jobs) / 1e3,
        "spark.core_util": run_s / (job_s * cores) if job_s else 0.0,
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "spark.shuffle_records": sum(j.shuffle_records for j in jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.result_bytes": sum(j.result_bytes for j in jobs),
        "spark.output_bytes": sum(j.output_bytes for j in jobs),
        "py.bytes_sent": sum(j.py_bytes_sent for j in jobs),
        "py.bytes_recv": sum(j.py_bytes_recv for j in jobs),
        "py.rows_recv": sum(j.py_rows_recv for j in jobs),
    }
