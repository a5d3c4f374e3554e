"""Per-layer metrics of a traced run.

Sources: the spans the benchmark recorded around each call into a
layer of the program, the Spark event log of the traced session
(jobs attributed to spans), and the counters the workload kept. Every
workload reports every metric; a layer the workload never calls
reports 0. Units: ``ms`` for medians of span durations, ``count/op``
and ``MB/op`` for Spark totals divided by the workload's units of
work, ``ms/op`` for self time per unit of work.
"""

from __future__ import annotations

import statistics

import eventlog
from spans import self_time_by_layer
from workloads import FACADE_KINDS, INTERACTIVE_OPS, MAINTENANCE_OPS

EXEC_COUNTERS = {
    "jobs": "count/op",
    "stages": "count/op",
    "tasks": "count/op",
    "sched_gap_ms": "ms/op",
    "task_run_ms": "ms/op",
    "task_cpu_ms": "ms/op",
    "gc_ms": "ms/op",
    "shuffle_write_mb": "MB/op",
    "shuffle_read_mb": "MB/op",
    "spill_mb": "MB/op",
    "python_rows": "rows/op",
    "python_mb": "MB/op",
}
SELF_LAYERS = (
    "request", "api", "operators", "exec", "tablefmt", "streaming", "maintenance",
)
OVERHEAD_OF = ("p50_ms", "p90_ms", "ops_per_s", "read_p50_ms")


def declared() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    m = {"api.build_ms": "ms", "api.build_jobs": "count/op"}
    m.update({f"api.build_ms.{k}": "ms" for k in FACADE_KINDS})
    m.update({"operators.build_ms": "ms", "operators.build_jobs": "count/op"})
    m.update({f"operators.build_ms.{k}": "ms" for k in INTERACTIVE_OPS})
    m.update({f"operators.table_maint_ms.{k}": "ms" for k in MAINTENANCE_OPS})
    m["exec.ms"] = "ms"
    m.update({f"exec.{k}": u for k, u in EXEC_COUNTERS.items()})
    m.update({
        "tablefmt.write_ms": "ms",
        "tablefmt.commit_ms": "ms",
        "tablefmt.conflicts": "count",
        "tablefmt.replay_ms": "ms",
        "tablefmt.checkpoint_ms": "ms",
        "tablefmt.vacuum_ms": "ms",
        "tablefmt.log_files": "count",
        "tablefmt.log_kb": "KB",
        "tablefmt.data_mb_written": "MB",
        "tablefmt.write_amp": "ratio",
        "streaming.feed_ms": "ms",
        "streaming.feed_rows": "rows",
    })
    m.update({f"self_ms.{k}": "ms/op" for k in SELF_LAYERS})
    m.update({f"trace.overhead_pct.{k}": "%" for k in OVERHEAD_OF})
    return m


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(spans, event_dir, phase, untraced: dict, traced: dict) -> dict:
    log = eventlog.read(event_dir)
    owner = eventlog.attribute(log, spans)
    units = max(1, len(phase.latencies_ms))
    v: dict[str, float] = {k: 0.0 for k in declared()}

    def durations(layer, name=None):
        return [
            (s.end - s.start) * 1000
            for s in spans
            if s.layer == layer and (name is None or s.name == name)
        ]

    def jobs_of(layer):
        return [j for j, i in owner.items() if spans[i].layer == layer]

    for layer in ("api", "operators"):
        d = durations(layer)
        v[f"{layer}.build_ms"] = _median(d)
        v[f"{layer}.build_jobs"] = len(jobs_of(layer)) / max(1, len(d))
    for k in FACADE_KINDS:
        v[f"api.build_ms.{k}"] = _median(durations("api", k))
    for k in INTERACTIVE_OPS:
        v[f"operators.build_ms.{k}"] = _median(durations("operators", k))
    for k in MAINTENANCE_OPS:
        v[f"operators.table_maint_ms.{k}"] = _median(durations("maintenance", k))

    v["exec.ms"] = _median(durations("exec"))
    for k, x in eventlog.totals(log, owner).items():
        v[f"exec.{k}"] = x / units

    x = phase.extra
    v["tablefmt.write_ms"] = _median(durations("tablefmt", "write_grouped"))
    v["tablefmt.commit_ms"] = _median(durations("tablefmt", "commit"))
    v["tablefmt.replay_ms"] = _median(durations("tablefmt", "live_files"))
    v["tablefmt.checkpoint_ms"] = _median(x.get("checkpoint_ms", []))
    v["tablefmt.conflicts"] = float(x.get("conflicts", 0))
    v["tablefmt.vacuum_ms"] = float(x.get("vacuum_ms", 0.0))
    v["tablefmt.log_files"] = float(x.get("log_files", 0))
    v["tablefmt.log_kb"] = x.get("log_bytes", 0) / 1e3
    v["tablefmt.data_mb_written"] = x.get("data_bytes_written", 0) / 1e6
    if x.get("input_bytes"):
        v["tablefmt.write_amp"] = x["bytes_written"] / x["input_bytes"]
    v["streaming.feed_ms"] = _median(x.get("feed_ms", []))
    v["streaming.feed_rows"] = float(x.get("feed_rows", 0))

    for layer, ms in self_time_by_layer(spans).items():
        if layer in SELF_LAYERS:
            v[f"self_ms.{layer}"] = ms / units

    for k in OVERHEAD_OF:
        base, got = untraced[k], traced[k]
        worse = (got - base) if k.endswith("_ms") else (base - got)
        v[f"trace.overhead_pct.{k}"] = 100.0 * worse / base
    units_of = declared()
    return {k: {"value": val, "unit": units_of[k]} for k, val in v.items()}
