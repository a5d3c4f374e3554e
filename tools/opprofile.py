"""Per-operator job-level profiler (optimization round r13, guide §1).

Usage: python -m tools.opprofile <op> [<op> ...]

For each named operator: one warm-up noop-sink execution, then one
timed execution with the Spark event log enabled; afterwards the event
log is parsed into a per-job wall-time breakdown (job id, seconds,
description/callsite, stage shuffle bytes) so the expensive *job*
inside a multi-job operator is identifiable — bench.py times the whole
op, this tool says where the time went. Diagnostic only: never run by
the driver, never part of the bench contract.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: python -m tools.opprofile <op> [...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="logdb_evlog_")

    # The event log is a launch-time conf: pass it to get_spark's
    # session through the submit args instead of a second builder.
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.eventLog.enabled=true",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        f"--conf spark.eventLog.dir={evdir}",
        "pyspark-shell",
    ])
    from logdb_spark.plans.session import get_spark

    spark = get_spark("opprofile")

    from logdb_spark.registry import all_operators

    ops = all_operators()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        ops[name].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        return time.perf_counter() - t0

    # Wall-clock windows per timed op: streaming micro-batch jobs run on
    # engine threads that do NOT inherit the thread-local job
    # description, so label-based attribution misses them entirely
    # (first seen on stream_dedup_minhash: 24.7 s wall, 2.2 s in
    # OP-labeled jobs). Epoch-ms windows catch every job regardless of
    # submitting thread; ops run sequentially, so windows never overlap.
    windows: dict[str, tuple[float, float]] = {}
    for name in names:
        warm = run(name)
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"OP:{name}")
        w0 = time.time() * 1000
        t = run(name)
        windows[name] = (w0, time.time() * 1000)
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        print(f"\n=== {name}: warm={warm:.2f}s timed={t:.2f}s")

    appid = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    # Parse the event log: job wall times within each OP window. The
    # log may be a single file or a rolling-v2 directory of files.
    path = os.path.join(evdir, appid)
    if not os.path.exists(path):
        cand = [
            os.path.join(evdir, d)
            for d in os.listdir(evdir)
            if appid in d
        ]
        path = cand[0] if cand else path
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if "events" in f
        )
    else:
        parts = [path]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    lines: list[str] = []
    for p in parts:
        with open(p) as fh:
            lines.extend(fh)
    for line in lines:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "site": ev.get("Properties", {}).get(
                        "callSite.short", ""
                    ),
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                    "end": None,
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", ""),
                    "tasks": si.get("Number of Tasks", 0),
                    "ms": (si.get("Completion Time", 0) or 0)
                    - (si.get("Submission Time", 0) or 0),
                }

    per_op: dict[str, list] = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        d = j["desc"]
        if d.startswith("OP:"):
            per_op.setdefault(d[3:], []).append((jid, j))
        else:
            # Unlabeled (streaming-thread) job: attribute by wall window.
            for name, (w0, w1) in windows.items():
                if w0 <= j["start"] <= w1:
                    j["site"] = "[unlabeled] " + j["site"]
                    per_op.setdefault(name, []).append((jid, j))
                    break
    for name, jl in per_op.items():
        total = sum(
            (j["end"] - j["start"]) / 1000 for _, j in jl if j["end"]
        )
        print(f"\n### {name}: {len(jl)} jobs, {total:.2f}s in jobs")
        for jid, j in jl:
            if not j["end"]:
                continue
            sec = (j["end"] - j["start"]) / 1000
            stg = "; ".join(
                f"{stages[s]['name'].split(' at ')[0]}x{stages[s]['tasks']}"
                for s in j["stages"]
                if s in stages
            )
            print(f"  job {jid:4d} {sec:7.2f}s  {j['site'][:40]:40s} {stg[:90]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
