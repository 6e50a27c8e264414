"""Per-layer metrics of a traced run, reduced from the tracer's spans and
per-key records.  Every per-pass figure is the median over the run's
timed passes; ``session.*``, ``host.*`` and ``jvm.*`` are per run."""

from __future__ import annotations

import statistics
from collections import defaultdict

from workloads import spec

# span name -> (count metric, seconds metric)
_SPAN_METRICS = {
    "sources.load": ("sources.load_calls", "sources.load_s"),
    "build": (None, "build.s"),
    "catalyst": (None, "catalyst.plan_s"),
    "checkpoint": ("checkpoint.calls", "checkpoint.s"),
    "streaming.drain": ("streaming.drains", "streaming.drain_s"),
    "ppjoin.batch": ("ppjoin.batches", "ppjoin.batch_s"),
    "collect": (None, "collect.s"),
}
_CATALYST_PHASES = {
    "analysis": "catalyst.analysis_ms",
    "optimization": "catalyst.optimization_ms",
    "planning": "catalyst.planning_ms",
}
# per-key record field -> metric
_KEY_METRICS = {
    "jobs": "exec.jobs",
    "stages": "exec.stages",
    "tasks": "exec.tasks",
    "triggers": "streaming.triggers",
    "nodata_triggers": "streaming.nodata_triggers",
    "add_batch_ms": "streaming.add_batch_ms",
    "planning_ms": "streaming.planning_ms",
    "wal_commit_ms": "streaming.wal_commit_ms",
    "state_commit_ms": "streaming.state_commit_ms",
    "state_rows": "streaming.state_rows",
    "state_bytes": "streaming.state_bytes",
    "streaming_jobs": "streaming.jobs",
}


def _pass_totals(tracer, rec: dict) -> dict[str, float]:
    p = rec["pass"]
    tot: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s["pass"] != p or s["name"] not in _SPAN_METRICS:
            continue
        count, secs = _SPAN_METRICS[s["name"]]
        if count:
            tot[count] += 1
        tot[secs] += s["end"] - s["start"]
        if s["name"] == "catalyst":
            for phase, metric in _CATALYST_PHASES.items():
                tot[metric] += s["attrs"].get(phase, 0.0)
        elif s["name"] == "collect":
            tot["collect.rows"] += s["attrs"].get("rows", 0)
            tot["collect.driver_cpu_s"] += s["attrs"].get("driver_cpu_s", 0.0)
    for k in tracer.keys:
        if k["pass_no"] == p:
            for field, metric in _KEY_METRICS.items():
                tot[metric] += k[field]
    tot["exec.jvm_cpu_s"] = rec["cpu"]["jvm"]
    tot["python.worker_cpu_s"] = rec["cpu"]["python"]
    tot["exec.gc_s"] = rec["gc_s"]
    tot["trace.pass_s"] = rec["pass_s"]
    return tot


def per_layer(tracer, timed, session_start_s, setup_s, steal_pct, rss_mb) -> dict:
    """Every per-layer metric of BENCHMARK.json, from the timed passes."""
    totals = [_pass_totals(tracer, rec) for rec in timed]
    out = {
        name: float(statistics.median(t.get(name, 0.0) for t in totals))
        for name in spec()["per_layer"]
    }
    out["session.start_s"] = session_start_s
    out["session.warm_s"] = setup_s - session_start_s
    out["host.steal_pct"] = steal_pct
    out["jvm.peak_rss_mb"] = rss_mb
    return out
