"""The event-log parser on a tiny hand-written Spark 4.1 event log."""

import json

import pytest

from perfbench import eventlog


def acc(i, name, v):
    return {"ID": i, "Name": name, "Update": str(v), "Value": str(v),
            "Internal": True, "Count Failed Values": True, "Metadata": "sql"}


def task(stage, launch, finish, run, accs=(), shuffle=0, fetch_wait=0, gc=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Executor ID": "driver",
                      "Accumulables": list(accs)},
        "Task Metrics": {
            "Executor Deserialize Time": 1, "Executor Run Time": run,
            "Result Serialization Time": 0, "JVM GC Time": gc,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Input Metrics": {"Bytes Read": read, "Records Read": 1},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch_wait},
        },
    }


PLAN = {"nodeName": "Project", "metrics": [], "children": [
    {"nodeName": "SortMergeJoin", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7, "metricType": "sum"}],
     "children": []},
    {"nodeName": "ArrowEvalPython", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 8, "metricType": "timing"}],
     "children": []}]}

EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 3, "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1],
     "Properties": {"perfbench.span": "ops.pairs#4", "perfbench.op": "op2",
                    "spark.sql.execution.id": "3"}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 0, "RDD Info": [{"Name": "FileScanRDD"}, {"Name": "MapPartitionsRDD"}]}},
    task(0, 1000, 1100, 90, [acc(8, "time to run Python workers", 40),
                             acc(9, "data sent to Python workers", 1000)], shuffle=300, read=64),
    task(0, 1000, 1400, 300, [acc(8, "time to run Python workers", 60),
                              acc(9, "data sent to Python workers", 500)], shuffle=200, gc=20, read=64),
    task(0, 1100, 1200, 100, shuffle=0, read=64),
    {"Event": "SparkListenerStageExecutorMetrics", "Executor ID": "driver", "Stage ID": 0,
     "Stage Attempt ID": 0, "Executor Metrics": {"ProcessTreePythonRSSMemory": 3 << 20}},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "RDD Info": [{"Name": "ShuffledRowRDD"}]}},
    task(1, 1400, 1500, 80, [acc(7, "number of output rows", 11)], fetch_wait=7),
    task(1, 1400, 1500, 80, [acc(7, "number of output rows", 13)], fetch_wait=3),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    # a later job that only lists stage 0 again as skipped, outside any span
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [0, 2], "Properties": {"perfbench.op": "op2"}},
    task(2, 2000, 2050, 50),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
]


@pytest.fixture
def log():
    return eventlog.parse_lines(json.dumps(e) for e in EVENTS)


def test_jobs_carry_span_and_op(log):
    job = log.jobs[0]
    assert (job.span, job.op) == ("ops.pairs", "op2")
    assert (job.submit_ms, job.end_ms) == (1000, 1500)
    assert log.jobs[1].span is None
    assert log.stage_job() == {0: 0, 1: 0, 2: 1}


def test_rollup_sums_tasks_of_the_kept_jobs(log):
    r = eventlog.rollup(log, lambda j: j.span == "ops.pairs")
    assert r["jobs"] == 1
    assert r["gc_s"] == pytest.approx(0.02)
    assert r["input_bytes"] == 192
    assert r["shuffle_write_bytes"] == 500
    assert r["fetch_wait_s"] == pytest.approx(0.01)
    assert r["spill_bytes"] == 25
    assert r["exchanges"] == 1
    assert r["scan_tasks"] == 3
    # stage 0 has the most task time; its slowest task over its median
    assert r["scan_skew"] == pytest.approx(3.0)
    assert r["task_skew"] == pytest.approx(3.0)
    assert r["python_run_s"] == pytest.approx(0.1)
    assert r["arrow_bytes_in"] == 1500
    assert r["python_rss_peak"] == 3 << 20
    # scheduler delay: duration minus run, deserialize and serialize time
    assert r["scheduler_delay_s"] == pytest.approx(
        (9 + 99 + 0 + 19 + 19) / 1e3)


def test_rollup_of_nothing_is_zero(log):
    r = eventlog.rollup(log, lambda j: False)
    assert r["jobs"] == 0 and r["scan_tasks"] == 0 and r["task_skew"] == 0.0


def test_node_metric_max_maps_accumulators_to_plan_nodes(log):
    keep = lambda j: j.span == "ops.pairs"  # noqa: E731
    assert eventlog.node_metric_max(log, keep, "Join", "number of output rows") == 24
    assert eventlog.node_metric_max(log, keep, "Aggregate", "number of output rows") == 0


def test_busy_s_is_the_union_of_job_intervals_inside_the_window(log):
    everything = lambda j: True  # noqa: E731
    assert eventlog.busy_s(log, everything, 0, 10_000) == pytest.approx(0.6)
    assert eventlog.busy_s(log, everything, 1200, 2050) == pytest.approx(0.35)


def test_parse_dir_reads_every_log_file(tmp_path):
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    (tmp_path / ".app-1.crc").write_text("junk")
    assert sorted(eventlog.parse_dir(str(tmp_path)).jobs) == [0, 1]
