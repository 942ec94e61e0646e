"""Metric names, units and where each value comes from.

End-to-end metrics mean the same thing on every workload, applied to
that workload's unit of work:

- dashboard: one read of the mix; throughput is reads/s. Latency is
  over the reads Spark serves (HotStore reads are sub-millisecond
  lookups with a layer metric of their own).
- batch: one job (a query, fully materialized, or one run of the stream
  job); throughput is jobs/s. Latency is over each job's median wall.

``cpu_ms_per_op`` is the CPU time of the whole process tree (driver,
JVM, Python workers) over the timed phase, per unit of work: the cost a
user pays, and far less sensitive than wall time to other load on the
machine.

Per-layer metrics come only from the traced run. A layer the workload
does not reach reports 0.
"""

from __future__ import annotations

# workload → module
WORKLOADS = {"dashboard": "wl_dashboard", "batch": "wl_batch"}

# name → (unit, key in the workload result)
_E2E = {
    "setup_s": ("s", "setup_s"),
    "latency_p50_ms": ("ms", "p50_ms"),
    "latency_tail_ms": ("ms", "tail_ms"),
    "throughput_per_s": ("1/s", "throughput_per_s"),
    "cpu_ms_per_op": ("ms", "cpu_ms_per_op"),
}
END_TO_END = {n: u for n, (u, _) in _E2E.items()}

LAYERS = (
    "session",
    "catalog",
    "plans.registry",
    "operators.reference",
    "operators.relational",
    "functions",
    "serving.api",
    "serving.hotstore",
    "serving.rules",
    "streaming.entries",
    "streaming.anomaly",
    "streaming.sinks",
    "streaming.notify",
)
FAMILIES = ("operators.reference", "operators.relational", "functions")
FAMILY_FIELDS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "gc_s": "s",
    "scan_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_rows": "count",
    "reconcile_error": "ratio",
}
ENDPOINTS = ("kpi", "series_rollup", "series_raw", "alerts")

PER_LAYER: dict[str, str] = {
    "session.job_floor_ms": "ms",
    "session.warmup_s": "s",
    "trace.latency_p50_ms": "ms",
    "trace.span_cost_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
}
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.calls"] = "count"
    PER_LAYER[f"{_layer}.self_ms"] = "ms"
for _fam in FAMILIES:
    for _f, _u in FAMILY_FIELDS.items():
        PER_LAYER[f"{_fam}.{_f}"] = _u
for _ep in ENDPOINTS:
    PER_LAYER[f"serving.api.{_ep}.build_ms_p50"] = "ms"
    PER_LAYER[f"serving.api.{_ep}.exec_ms_p50"] = "ms"
    PER_LAYER[f"serving.api.{_ep}.jobs_per_read"] = "count"
    PER_LAYER[f"serving.api.{_ep}.rows"] = "count"
PER_LAYER["serving.hotstore.kpi_us_p50"] = "us"
PER_LAYER["serving.hotstore.upsert_ms_p50"] = "ms"

PER_LAYER.update(
    {
        "streaming.entries.agg.batch_ms_p50": "ms",
        "streaming.entries.agg.add_batch_ms_p50": "ms",
        "streaming.entries.agg.planning_ms_p50": "ms",
        "streaming.entries.agg.commit_ms_p50": "ms",
        "streaming.entries.agg.rows_per_batch_p50": "count",
        "streaming.entries.agg.state_rows": "count",
        "streaming.entries.agg.state_bytes": "bytes",
        "streaming.entries.agg.state_commit_ms_p50": "ms",
        "streaming.entries.agg.late_rows_dropped": "count",
        "streaming.anomaly.batch_ms_p50": "ms",
        "streaming.anomaly.update_ms_p50": "ms",
        "streaming.anomaly.state_rows": "count",
        "streaming.anomaly.state_bytes": "bytes",
        "streaming.anomaly.rows_scored": "count",
        "streaming.anomaly.python_rows": "count",
        "streaming.anomaly.python_bytes": "bytes",
        "streaming.anomaly.cooldown.pass_ratio": "ratio",
        "streaming.sinks.hotstore_upsert_ms_p50": "ms",
        "streaming.sinks.rollup_ms_p50": "ms",
        "streaming.sinks.rows_written": "count",
        "serving.hotstore.keys": "count",
        "serving.rules.matched_per_alert": "ratio",
        "streaming.notify.deliver_ms_p50": "ms",
        "streaming.notify.messages": "count",
        "streaming.job.ab_s_p50": "s",
        "streaming.job.notify_s_p50": "s",
    }
)


def value(res: dict, name: str, trace: int) -> float:
    if not trace:
        return float(res[_E2E[name][1]])
    return float(res["layers"].get(name, 0))
