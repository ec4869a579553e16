"""The benchmark's own tests: seeded generators, event-log attribution,
metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, layers, run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digests(d: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(d))
    }


@pytest.mark.parametrize("workload", sorted(gen.WORKLOAD_INPUTS))
def test_same_seed_same_files_other_seed_other_rows(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    lay_a = gen.write_inputs(workload, 7, a, 4)
    lay_b = gen.write_inputs(workload, 7, b, 4)
    gen.write_inputs(workload, 8, c, 4)
    assert lay_a == lay_b
    assert _digests(a) == _digests(b)
    for name in gen.WORKLOAD_INPUTS[workload]:
        rows_a = pq.read_table(os.path.join(a, f"{name}.parquet")).to_pylist()
        rows_c = pq.read_table(os.path.join(c, f"{name}.parquet")).to_pylist()
        assert rows_a != rows_c
        assert lay_a[name]["row_groups"] >= 4  # splittable nproc ways


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    # what the run prints is what the file declares
    assert [m["name"] for m in bench["per_layer"]] == list(layers.UNITS)
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def test_parser_attributes_jobs_and_task_metrics(tmp_path):
    log = tmp_path / "app-1"
    lines = [
        _event("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
            "Properties": {"spark.job.description": "w:0:q1",
                           "perfbench.phase": "build"}}),
        _event("SparkListenerTaskEnd", **{
            "Stage ID": 1, "Task End Reason": {"Reason": "Success"},
            "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 30_000_000,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}},
            "Task Info": {"Accumulables": [
                {"ID": 5, "Name": eventlog.PY_SENT, "Update": "64"}]}}),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500,
                                          "Job Result": {"Result": "JobSucceeded"}}),
        _event("SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 2000, "Stage IDs": [2],
            "Properties": {"spark.job.description": "w:0:q2"}}),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2250,
                                          "Job Result": {"Result": "JobSucceeded"}}),
    ]
    log.write_text("".join(lines))
    jobs, _ = eventlog.parse(str(log))
    assert [j.label for j in jobs] == [("w", "0", "q1"), ("w", "0", "q2")]
    assert jobs[0].phase == "build"
    c = eventlog.engine_counters(jobs, [], wall_s=2.0, cores=4)
    assert c["spark.jobs"] == 2 and c["spark.tasks"] == 1
    assert c["spark.job_s"] == pytest.approx(0.75)
    assert c["spark.driver_s"] == pytest.approx(1.25)
    assert c["spark.shuffle_write_bytes"] == 100
    assert c["py.bytes_sent"] == 64


@pytest.mark.slow
def test_event_log_job_count_matches_status_tracker(tmp_path, monkeypatch):
    """One known query on tiny inputs: the jobs the event log attributes
    to it are exactly the jobs Spark's status tracker saw in its group."""
    data = str(tmp_path / "data")
    gen.write_inputs("lloyd", 3, data, 2)
    # _prepare_env rewrites these; monkeypatch restores them afterwards
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_EXTRA_CONF",
                "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.setenv(key, os.environ.get(key, ""))
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    log_dir = run._prepare_env(str(tmp_path / "work"), trace=True)
    from pyspark import SparkContext

    from mapreducekmean_spark import get_spark

    if SparkContext._active_spark_context is not None:
        pytest.skip("needs a fresh SparkContext for the event log")
    spark = get_spark("perfbench-test")
    try:
        sweeper = run.Sweeper(spark, "lloyd", data)
        q = next(q for q in sweeper.queries if q.name == "wssse")
        spark.sparkContext.setJobGroup("probe", "probe")
        rec = sweeper.run_query("0", q)
        expected = spark.sparkContext.statusTracker().getJobIdsForGroup("probe")
    finally:
        run._stop_spark(spark)
    assert rec["ok"]
    jobs, _ = eventlog.parse(eventlog.find_log(log_dir))
    mine = [j.job_id for j in jobs if j.label == ("lloyd", "0", "wssse")]
    assert expected and sorted(mine) == sorted(expected)


def test_oracle_check_rule(tmp_path):
    from perfbench import oracle

    pq.write_table(pa.table({"k": [1, 2, 2], "v": [0.5, 1.5, 2.5]}),
                   str(tmp_path / "t.parquet"))
    con = oracle.connect(str(tmp_path), 1)
    try:
        sql = "SELECT k, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY k"
        # columns sorted by name, rows in any order
        assert oracle.check(con, sql, ["n", "k"], [(2, 2), (1, 1)]) == ""
        assert oracle.check(con, sql, ["n", "k"], [(1, 2), (1, 1)]) == "values differ"
        # sum(BIGINT) is HUGEINT in DuckDB: rejected like compare_query does
        bad = "SELECT k, sum(k) AS s FROM t GROUP BY k"
        assert "pandas-unsafe" in oracle.check(con, bad, ["k", "s"], [(1, 1), (2, 4)])
    finally:
        con.close()
    assert oracle.check(None, None, ["x"], []) == "rows-only query returned 0 rows"
