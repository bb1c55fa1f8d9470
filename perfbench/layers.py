"""Per-layer metrics of a traced run, from the benchmark's spans and the
parsed Spark event log. Every metric is reported for every workload; a
layer the workload does not touch reads 0.

Layers are the package's modules: ``sources`` (the parquet scan),
``functions`` (the fused scoring UDF and the scrub chain), ``plans`` (the
pipeline's writes and lineage), ``streaming`` (checkpoint records),
``operators`` (suite compile, aggregate and sample jobs), ``ops`` (MinHash
dedup) and ``session`` (the Spark session itself). Sums are per timed op.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog
from perfbench.stats import summary
from perfbench.trace import self_times, total_by_name

MB = 1 << 20


def compute(run, log: eventlog.EventLog, names) -> dict[str, float]:
    """``run`` is the finished ``run.Run`` of a traced run; ``names`` are
    BENCHMARK.json's per-layer metrics, each of which starts at 0."""
    traced = [o for o in run.timed if o.traced]
    plain = [o for o in run.timed if not o.traced]
    ids = {o.tag for o in traced}
    n = max(len(traced), 1)
    spans = [s for s in run.tracer.spans if s.op in ids]
    span_s = total_by_name(spans)

    def per_op(name: str) -> float:
        return span_s.get(name, 0.0) / n

    def under(prefix):
        return lambda j: j.op in ids and (j.span or "").startswith(prefix)

    every = eventlog.rollup(log, lambda j: j.op in ids)
    plans = eventlog.rollup(log, under("plans."))
    operators = eventlog.rollup(log, under("operators."))
    ops = eventlog.rollup(log, under("ops."))
    setup = eventlog.rollup(log, lambda j: j.op == run.setup_tag)
    docs = run.workload.docs

    m = dict.fromkeys(names, 0.0)
    m.update(run.probes)
    m.update({
        "sources.scan_tasks": every["scan_tasks"] / n,
        "sources.scan_bytes": every["input_bytes"] / n,
        "sources.scan_task_skew": every["scan_skew"],
        "functions.python_run_s": plans["python_run_s"] / n,
        "functions.python_boot_s": setup["python_boot_s"],
        "functions.arrow_bytes_in_per_doc": plans["arrow_bytes_in"] / n / docs,
        "functions.arrow_bytes_out_per_doc": plans["arrow_bytes_out"] / n / docs,
        "functions.python_rss_peak_mb": plans["python_rss_peak"] / MB,
        "plans.write_s": per_op("plans.write"),
        "plans.metrics_write_s": per_op("plans.metrics_write"),
        "plans.lineage_s": per_op("plans.lineage_read") + per_op("plans.lineage_write"),
        "plans.shuffle_write_bytes": plans["shuffle_write_bytes"] / n,
        "plans.jobs_per_op": plans["jobs"] / n,
        "streaming.checkpoint_commit_s": per_op("streaming.checkpoint_commit"),
        "streaming.checkpoint_read_s": per_op("streaming.checkpoint_read"),
        "operators.compile_s": per_op("operators.compile"),
        "operators.agg_s": per_op("operators.agg"),
        "operators.sample_s": per_op("operators.sample"),
        "operators.jobs_per_op": operators["jobs"] / n,
        "ops.signature_python_run_s": ops["python_run_s"] / n,
        "ops.pairs_s": per_op("ops.pairs"),
        "ops.cluster_s": per_op("ops.cluster"),
        "ops.cluster_rounds": sum(run.tracer.counts.get((t, "ops.cluster_rounds"), 0) for t in ids) / n,
        "ops.shuffle_bytes": ops["shuffle_write_bytes"] / n,
        "ops.fetch_wait_s": ops["fetch_wait_s"] / n,
        "ops.spill_bytes": ops["spill_bytes"] / n,
        "ops.exchanges": ops["exchanges"] / n,
        "ops.task_skew": ops["task_skew"],
        "ops.python_rss_peak_mb": ops["python_rss_peak"] / MB,
        "session.start_s": run.session_start_s,
        "session.gc_s": every["gc_s"] / n,
        "session.scheduler_delay_s": every["scheduler_delay_s"] / n,
        "python_rss_peak_mb": run.python_rss_peak / MB,
        "rss_peak_mb": run.tree_rss_peak / MB,
        "host.steal_share": run.steal_share,
        "host.loadavg_1m": run.loadavg_1m,
    })
    if plain:
        durs = summary(o.dur for o in plain)
        # p90 only with ten samples beyond it, i.e. 100 untraced ops
        m["op_p90_s"] = durs.get("p90", 0.0)
        m["op_samples"] = durs["n"]
        if traced:
            m["trace.overhead_ratio"] = (statistics.median(o.dur for o in traced)
                                         / durs["p50"] - 1)
    if "ops.pairs" in span_s:
        cands = [eventlog.node_metric_max(log, _in_span(t, "ops.pairs"), "Join",
                                          "number of output rows") for t in ids]
        verified = [o.counts.get("verified_pairs", 0) for o in traced]
        m["ops.candidate_pairs"] = statistics.mean(cands)
        m["ops.verified_pairs"] = statistics.mean(verified)
        if m["ops.candidate_pairs"]:
            m["ops.verify_yield"] = m["ops.verified_pairs"] / m["ops.candidate_pairs"]
    if "plans.pipeline" in span_s:
        m["plans.output_bytes_per_doc"] = statistics.mean(
            o.counts.get("output_bytes", 0) for o in traced) / docs
        m["plans.driver_gap_s"] = statistics.mean(
            o.dur - eventlog.busy_s(log, _in_op(o.tag), o.wall0 * 1e3, o.wall1 * 1e3)
            for o in traced)
    roots = [s for s in spans if s.name == "op"]
    if roots:
        own = self_times(spans)
        m["trace.unattributed_share"] = statistics.mean(
            own[s.id] / s.duration for s in roots if s.duration > 0)
    return m


def _in_op(tag):
    return lambda j: j.op == tag


def _in_span(tag, name):
    return lambda j: j.op == tag and j.span == name
