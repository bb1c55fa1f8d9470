"""Parser for Spark's uncompressed JSON event log, and roll-ups of its
task and stage metrics over a chosen set of jobs.

Needs the session to run with ``spark.eventLog.enabled``,
``spark.eventLog.compress=false``, ``spark.eventLog.logStageExecutorMetrics``
and ``spark.executor.processTreeMetrics.enabled`` (see ``run.py``). Jobs are
attributed to benchmark spans and ops through the local properties that
``trace.Tracer`` sets (``perfbench.span`` / ``perfbench.op``).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from perfbench.trace import OP_PROP, SPAN_PROP, covered

# SQL metrics (task accumulables) of the Python eval nodes; times are
# milliseconds, sizes bytes
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_SQL_METRICS = (PY_RUN, PY_BOOT, PY_SENT, PY_RECV)


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    deser_ms: int
    result_ser_ms: int
    gc_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    fetch_wait_ms: int
    spill_bytes: int
    sql: dict[str, int]
    accums: dict[int, int]

    @property
    def scheduler_delay_ms(self) -> int:
        busy = self.run_ms + self.deser_ms + self.result_ser_ms
        return max(0, self.finish_ms - self.launch_ms - busy)


@dataclass
class Stage:
    id: int
    rdds: list[str] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)
    peaks: dict[str, int] = field(default_factory=dict)

    @property
    def scans(self) -> bool:
        return "FileScanRDD" in self.rdds

    def skew(self) -> float:
        """Slowest task over the median task (run time)."""
        runs = [t.run_ms for t in self.tasks]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med > 0 else 1.0


@dataclass
class Job:
    id: int
    props: dict[str, str]
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)

    @property
    def span(self) -> str | None:
        tag = self.props.get(SPAN_PROP)
        return tag.split("#", 1)[0] if tag else None

    @property
    def op(self) -> str | None:
        return self.props.get(OP_PROP)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # accumulator id -> (plan node name, metric name)
    node_metrics: dict[int, tuple[str, str]] = field(default_factory=dict)

    def stage_job(self) -> dict[int, int]:
        """Stage id -> the first job that lists it (the one that ran it;
        later jobs list it again only as skipped)."""
        out: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid].stage_ids:
                out.setdefault(sid, jid)
        return out


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _task(e: dict) -> Task:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    sql, accums = {}, {}
    for a in info.get("Accumulables", []):
        try:
            v = int(a.get("Update", 0))
        except (TypeError, ValueError):
            continue
        accums[a["ID"]] = v
        if a.get("Name") in _SQL_METRICS:
            sql[a["Name"]] = sql.get(a["Name"], 0) + v
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return Task(
        stage=e["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        deser_ms=m.get("Executor Deserialize Time", 0),
        result_ser_ms=m.get("Result Serialization Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        sql=sql,
        accums=accums,
    )


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = Job(e["Job ID"], e.get("Properties") or {},
                                        e["Submission Time"],
                                        stage_ids=list(e.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.rdds = [r.get("Name", "") for r in info.get("RDD Info", [])]
        elif kind == "SparkListenerTaskEnd":
            t = _task(e)
            log.stages.setdefault(t.stage, Stage(t.stage)).tasks.append(t)
        elif kind == "SparkListenerStageExecutorMetrics":
            st = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            for k, v in (e.get("Executor Metrics") or {}).items():
                st.peaks[k] = max(st.peaks.get(k, 0), v)
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], log.node_metrics)
    return log


def parse_dir(path: str) -> EventLog:
    """Parse every event-log file under ``path`` (rolling or not)."""
    files = []
    for root, _, names in os.walk(path):
        files += [os.path.join(root, n) for n in names
                  if not n.startswith(".") and not n.startswith("appstatus")]

    def lines():
        for f in sorted(files):
            with open(f) as fh:
                yield from fh

    return parse_lines(lines())


def rollup(log: EventLog, keep) -> dict:
    """Sums over the tasks of every stage run by a job with ``keep(job)``.
    Times are seconds, sizes bytes; ``*_skew`` is slowest/median task of
    the stage with the most task time; peaks are maxima over stages."""
    s2j = log.stage_job()
    stages = [st for sid, st in sorted(log.stages.items())
              if sid in s2j and keep(log.jobs[s2j[sid]]) and st.tasks]
    tasks = [t for st in stages for t in st.tasks]
    scan = [st for st in stages if st.scans]

    def total(attr):
        return sum(getattr(t, attr) for t in tasks)

    def sql(name):
        return sum(t.sql.get(name, 0) for t in tasks)

    def heaviest_skew(sts):
        big = max(sts, key=lambda st: sum(t.run_ms for t in st.tasks), default=None)
        return big.skew() if big is not None else 0.0

    return {
        "jobs": sum(1 for j in log.jobs.values() if keep(j)),
        "gc_s": total("gc_ms") / 1e3,
        "scheduler_delay_s": total("scheduler_delay_ms") / 1e3,
        "input_bytes": total("input_bytes"),
        "shuffle_write_bytes": total("shuffle_write_bytes"),
        "fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "spill_bytes": total("spill_bytes"),
        "exchanges": sum(1 for st in stages if any(t.shuffle_write_bytes for t in st.tasks)),
        "scan_tasks": sum(len(st.tasks) for st in scan),
        "scan_skew": heaviest_skew(scan),
        "task_skew": heaviest_skew(stages),
        "python_run_s": sql(PY_RUN) / 1e3,
        "python_boot_s": sql(PY_BOOT) / 1e3,
        "arrow_bytes_in": sql(PY_SENT),
        "arrow_bytes_out": sql(PY_RECV),
        "python_rss_peak": max((st.peaks.get("ProcessTreePythonRSSMemory", 0) for st in stages), default=0),
    }


def node_metric_max(log: EventLog, keep, node_part: str, metric: str) -> int:
    """Largest per-node total of SQL metric ``metric`` over plan nodes whose
    name contains ``node_part``, over the stages of jobs with ``keep``."""
    s2j = log.stage_job()
    per_node: dict[int, int] = {}
    for sid, st in log.stages.items():
        if sid not in s2j or not keep(log.jobs[s2j[sid]]):
            continue
        for t in st.tasks:
            for acc, v in t.accums.items():
                where = log.node_metrics.get(acc)
                if where and node_part in where[0] and where[1] == metric:
                    per_node[acc] = per_node.get(acc, 0) + v
    return max(per_node.values(), default=0)


def busy_s(log: EventLog, keep, t0_ms: float, t1_ms: float) -> float:
    """Seconds of [t0, t1] (epoch ms) covered by at least one kept job."""
    return covered([(max(j.submit_ms, t0_ms), min(j.end_ms, t1_ms))
                    for j in log.jobs.values()
                    if keep(j) and j.end_ms is not None]) / 1e3
