"""Benchmark entry point: one workload, one seed, one fresh Spark driver.

    python3 perfbench/run.py --workload crawl_filter --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The run writes its
seeded inputs under ``.perfbench_work/`` in the checkout, starts Spark on
``local[<cores>]``, runs one cold op on the workload's slice (its end
closes ``setup_s``) and four more untimed warm-up ops, then one client
thread issues ops back to back (a closed loop) for ``--seconds``. Every op
is checked against results computed before the loop; a failed check is a
failed op. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``, which holds the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0`` and its
``per_layer`` metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dataqualityassistant_spark"
# Untimed ops: the cold op and two more on the workload's slice (its first
# input file), then two on the whole input. From the first warm op on, the
# Python workers' CPU per op is flat; the JVM's keeps falling for five to
# ten more ops (JIT of per-query and per-task code). That warm-up is paid
# per op rather than per doc, so slice ops do it for less; the two full
# ops warm the per-row paths just before the loop.
WARMUP_OPS = 5
SLICE_OPS = 3  # the first ones, the cold op among them
MB = 1 << 20


@dataclass
class Op:
    i: int
    tag: str
    traced: bool
    small: bool = False
    dur: float = 0.0
    cpu_s: float = 0.0
    wall0: float = 0.0
    wall1: float = 0.0
    ok: bool = False
    counts: dict = field(default_factory=dict)


@dataclass
class Run:
    workload: object
    tracer: object
    setup_tag: str = "op0"
    session_start_s: float = 0.0
    setup_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    timed: list[Op] = field(default_factory=list)
    python_rss_peak: int = 0
    tree_rss_peak: int = 0
    steal_share: float = 0.0
    loadavg_1m: float = 0.0
    probes: dict = field(default_factory=dict)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files (and no hsperfdata) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
            "spark.executor.metrics.pollingInterval": "250ms",
        })
    return conf


def instrument(tracer, undo: list) -> None:
    """Wrap the package's layer entry points (and the DataFrame actions they
    issue) in spans, for the traced run. ``trace.restore(undo)`` undoes it."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from dataqualityassistant_spark.operators.engine import SuiteEngine
    from dataqualityassistant_spark.ops import dedup
    from dataqualityassistant_spark.streaming.checkpoint import CheckpointStore
    from perfbench.trace import caller_name

    writes = {"data": "plans.write", "metrics": "plans.metrics_write",
              "lineage": "plans.lineage_write"}
    collects = {"_run_impl": "plans.lineage_read", "execute": "operators.agg",
                "_finalize_expectation": "operators.sample",
                "_flush_pending_samples": "operators.sample",
                "_dup_values": "operators.sample", "_fetch_samples": "operators.sample"}
    tracer.wrap(DataFrameWriter, "parquet",
                lambda self, path, *a, **k: writes.get(os.path.basename(str(path))), undo)
    tracer.wrap(DataFrame, "collect", lambda self: collects.get(caller_name(2)), undo)
    tracer.wrap(CheckpointStore, "mark_completed", "streaming.checkpoint_commit", undo)
    tracer.wrap(CheckpointStore, "completed_buckets", "streaming.checkpoint_read", undo)
    tracer.wrap(CheckpointStore, "records", "streaming.checkpoint_read", undo)
    tracer.wrap(SuiteEngine, "compile_rules", "operators.compile", undo)

    clusters = dedup.dedup_clusters

    def counted_clusters(*args, _stats=None, **kwargs):
        stats = {} if _stats is None else _stats
        out = clusters(*args, _stats=stats, **kwargs)
        tracer.count("ops.cluster_rounds", stats.get("rounds", 0))
        return out

    undo.append((dedup, "dedup_clusters", clusters))
    dedup.dedup_clusters = counted_clusters


def run_op(run: Run, spark, i: int, traced: bool, small: bool = False) -> Op:
    from perfbench.procstat import tree_cpu_s

    tracer, wl = run.tracer, run.workload
    op = Op(i, f"op{i}", traced, small)
    if tracer.sc is not None:
        tracer.enabled = traced
        tracer.set_op(op.tag)
    cpu0 = tree_cpu_s()
    op.wall0, t0 = time.time(), time.perf_counter()
    try:
        with tracer.span("op"):
            result = wl.op(spark, i, tracer, small)
        op.ok = True
    except Exception:  # a failing op is counted, and the run goes on
        traceback.print_exc()
        result = None
    op.dur = time.perf_counter() - t0
    op.wall1 = time.time()
    op.cpu_s = tree_cpu_s() - cpu0
    if op.ok:
        try:
            bad = wl.check(result, i, op.counts, small)
        except Exception:
            traceback.print_exc()
            bad = ["check raised"]
        for msg in bad:
            print(f"{wl.name} op {i}: {msg}", file=sys.stderr)
        op.ok = not bad
    wl.cleanup(i)
    print(f"{wl.name} op {i}: {op.dur:.3f} s, cpu {op.cpu_s:.2f} s, "
          f"{'ok' if op.ok else 'FAILED'}{', slice' if small else ''}{', traced' if traced else ''}", file=sys.stderr)
    if tracer.sc is not None:
        tracer.set_op(None)
    run.ops.append(op)
    return op


def measure(wl, seconds: float, trace: bool, work: str) -> Run:
    from dataqualityassistant_spark.session import stop_session_hard, tuned_session
    from perfbench import procstat
    from perfbench.trace import Tracer, restore

    cores = len(os.sched_getaffinity(0))
    run = Run(wl, Tracer())
    if not trace:
        run.tracer.enabled = False
    t_launch = time.perf_counter()
    spark = tuned_session("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores, extra_conf=spark_conf(work, trace))
    run.session_start_s = time.perf_counter() - t_launch
    print(f"session started in {run.session_start_s:.2f} s", file=sys.stderr)
    undo: list = []
    try:
        if trace:
            run.tracer.sc = spark.sparkContext
            instrument(run.tracer, undo)
        run_op(run, spark, 0, trace, small=True)
        run.setup_s = time.perf_counter() - t_launch
        for i in range(1, WARMUP_OPS):
            run_op(run, spark, i, trace, small=i < SLICE_OPS)
        host0 = procstat.host_cpu()
        # the RSS peaks are per-layer metrics: sample only in traced runs
        with procstat.RssSampler() if trace else contextlib.nullcontext() as rss:
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < seconds:
                # traced runs alternate traced and untraced ops, starting
                # traced, so the tracing overhead is measured on the same
                # session
                traced = trace and len(run.timed) % 2 == 0
                run.timed.append(run_op(run, spark, len(run.ops), traced))
        run.steal_share = procstat.steal_share(host0, procstat.host_cpu())
        run.loadavg_1m = procstat.loadavg_1m()
        if trace:
            run.python_rss_peak, run.tree_rss_peak = rss.python_peak, rss.tree_peak
            run.tracer.set_op("probe")
            run.tracer.enabled = True
            run.probes = wl.probes(spark, run.tracer)
    finally:
        restore(undo)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        stop_session_hard(spark)
        procstat.end_children(jvm)
    return run


def end_to_end(run: Run) -> dict[str, float]:
    ok = [o for o in run.timed if o.ok] or run.timed
    busy = sum(o.dur for o in ok)
    docs = run.workload.docs * len(ok)
    return {
        "docs_per_s": docs / busy,
        "op_p50_s": statistics.median(o.dur for o in ok),
        "cpu_ms_per_doc": 1e3 * sum(o.cpu_s for o in ok) / docs,
        "setup_s": run.setup_s,
    }


def report(values: dict[str, float], specs: list[dict]) -> dict:
    """``values`` in the order and with the units of BENCHMARK.json's
    metric ``specs``; a metric missing on either side is an error."""
    names = [m["name"] for m in specs]
    if set(values) != set(names):
        raise KeyError(f"metrics not in both BENCHMARK.json and the run: "
                       f"{sorted(set(values) ^ set(names))}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # import this directory as the ``perfbench`` package, not as top-level
    # modules (its trace.py would shadow the standard library's)
    sys.path[0] = ROOT
    # Python workers import the package too; they start in the JVM's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # SIGTERM unwinds like an error, so Spark is stopped and the inputs go
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark's scratch space; this variable wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload](work, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        print(f"inputs and expected results in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        run = measure(wl, args.seconds, bool(args.trace), work)
        if args.trace:
            from perfbench import eventlog, layers

            log = eventlog.parse_dir(os.path.join(work, "eventlog"))
            names = [m["name"] for m in bench["per_layer"]]
            metrics = report(layers.compute(run, log, names), bench["per_layer"])
        else:
            metrics = report(end_to_end(run), bench["end_to_end"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still holds its own work dir
            pass

    failed = sum(not o.ok for o in run.ops)
    print(f"host: steal_share={run.steal_share:.4f} loadavg_1m={run.loadavg_1m:.2f} "
          f"timed_ops={len(run.timed)}")
    print(json.dumps({"correct": failed == 0, "attempted": len(run.ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
