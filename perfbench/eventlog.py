"""Spark event-log parser for the traced run.

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled`` and reduces it to what the per-layer
metrics need: per job its submission and completion time, job group
and SQL execution id; per executed stage its job, task count and the
summed task metrics (run, CPU and GC time, shuffle bytes, spill); per
SQL execution its start time (for the gap to its first job) and the
accumulator ids of the SQL metrics on Python-worker plan nodes.

``attribute`` assigns each job to a span: by the job group the
tracer set, or, for jobs launched on threads that do not inherit it
(streaming micro-batches), by the innermost span whose wall-clock
window holds the job's submission time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from spans import GROUP_PREFIX, Span

_SQL = "org.apache.spark.sql.execution.ui."
# Plan nodes that exchange rows with Python workers (pandas/Arrow UDFs,
# UDTFs, grouped map, Python data source scans) carry these SQL
# metrics; their output-row count is the rows that crossed.
_PY_ROWS = "number of output rows"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Job:
    start: int  # epoch ms
    end: int | None = None
    group: str | None = None
    sql_id: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    job: int | None = None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    python_rows: int = 0
    python_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    sql_start: dict[int, int] = field(default_factory=dict)
    # accumulator id -> "rows" | "bytes" for Python-node SQL metrics
    python_accums: dict[int, str] = field(default_factory=dict)


def event_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` (plain files, or the
    parts of a rolling-log directory), in name order."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            out += [
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.startswith("events")
            ]
        elif not name.endswith(".inprogress"):
            out.append(path)
    return out


def _walk_plan(node: dict, log: EventLog) -> None:
    metrics = node.get("metrics", [])
    if any(m.get("name") in _PY_BYTES for m in metrics):
        for m in metrics:
            if m.get("name") == _PY_ROWS:
                log.python_accums[m["accumulatorId"]] = "rows"
            elif m.get("name") in _PY_BYTES:
                log.python_accums[m["accumulatorId"]] = "bytes"
    for child in node.get("children", []):
        _walk_plan(child, log)


def parse(lines) -> EventLog:
    log = EventLog()
    task_ends = []
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # torn last line of a log still being written
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            job = Job(
                start=ev["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                sql_id=int(sql_id) if sql_id not in (None, "") else None,
                stages=[s["Stage ID"] for s in ev.get("Stage Infos", [])],
            )
            log.jobs[ev["Job ID"]] = job
            for sid in job.stages:
                # A stage listed by several jobs runs in the first one;
                # later jobs skip it.
                log.stages.setdefault(sid, Stage(job=ev["Job ID"]))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]].end = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",):
            log.sql_start[ev["executionId"]] = ev["time"]
            _walk_plan(ev.get("sparkPlanInfo") or {}, log)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            _walk_plan(ev.get("sparkPlanInfo") or {}, log)
    for ev in task_ends:
        st = log.stages.setdefault(ev["Stage ID"], Stage())
        st.tasks += 1
        m = ev.get("Task Metrics") or {}
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.spill += m.get("Disk Bytes Spilled", 0)
        st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        rd = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            kind = log.python_accums.get(acc.get("ID"))
            if kind is None:
                continue
            try:
                update = int(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if kind == "rows":
                st.python_rows += update
            else:
                st.python_bytes += update
    return log


def read(log_dir: str) -> EventLog:
    lines: list[str] = []
    for path in event_files(log_dir):
        with open(path) as f:
            lines.extend(f)
    return parse(lines)


def attribute(log: EventLog, spans: list[Span]) -> dict[int, int]:
    """job id -> index of the span that launched it. Jobs outside
    every span (warm-up, checks) are left out."""
    out: dict[int, int] = {}
    for jid, job in log.jobs.items():
        g = job.group or ""
        if g.startswith(GROUP_PREFIX):
            idx = int(g[len(GROUP_PREFIX):])
            if idx < len(spans):
                out[jid] = idx
            continue
        t = job.start / 1000
        best = None
        for i, s in enumerate(spans):
            if s.start <= t <= s.end and (
                best is None or s.start >= spans[best].start
            ):
                best = i
        if best is not None:
            out[jid] = best
    return out


def sched_gap_ms(log: EventLog, jids) -> float:
    """Summed gap from each SQL execution's start to its first job's
    submission, over the executions these jobs belong to."""
    first: dict[int, int] = {}
    for jid in jids:
        job = log.jobs[jid]
        if job.sql_id is None or job.sql_id not in log.sql_start:
            continue
        first[job.sql_id] = min(first.get(job.sql_id, job.start), job.start)
    return float(sum(max(0, t - log.sql_start[sid]) for sid, t in first.items()))


def totals(log: EventLog, jids) -> dict[str, float]:
    """Counts and task metrics summed over the given jobs."""
    jids = list(jids)
    stages = [
        st
        for sid, st in log.stages.items()
        if st.job in set(jids) and st.tasks > 0
    ]
    mb = 1e6
    return {
        "jobs": float(len(jids)),
        "stages": float(len(stages)),
        "tasks": float(sum(s.tasks for s in stages)),
        "task_run_ms": float(sum(s.run_ms for s in stages)),
        "task_cpu_ms": sum(s.cpu_ns for s in stages) / 1e6,
        "gc_ms": float(sum(s.gc_ms for s in stages)),
        "shuffle_write_mb": sum(s.shuffle_write for s in stages) / mb,
        "shuffle_read_mb": sum(s.shuffle_read for s in stages) / mb,
        "spill_mb": sum(s.spill for s in stages) / mb,
        "python_rows": float(sum(s.python_rows for s in stages)),
        "python_mb": sum(s.python_bytes for s in stages) / mb,
        "sched_gap_ms": sched_gap_ms(log, jids),
    }
