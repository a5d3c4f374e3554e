"""Benchmark harness — driver contract (BASELINE.md).

Times every registered operator at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:
    {"metric": "suite_seconds", "value": <total>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, ...}

Method: one warm-up execution of the whole suite (JVM/JIT/code-cache
warm), then BENCH_RUNS (default 3) measured runs per query; the
reported number is the median. Queries materialize through the noop
sink — full execution, no driver-side row transfer.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _self_tree() -> set[int]:
    """PIDs of this process and all its descendants (our own Spark JVM
    is a child of this python driver)."""
    children: dict[int, list[int]] = {}
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    # field 4 is ppid; comm (field 2) may contain
                    # spaces, so parse from after the closing paren
                    ppid = int(fh.read().rpartition(")")[2].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
    except OSError:
        return {os.getpid()}
    tree, stack = set(), [os.getpid()]
    while stack:
        p = stack.pop()
        if p in tree:
            continue
        tree.add(p)
        stack.extend(children.get(p, ()))
    return tree


def _foreign_cpu_cores(interval: float = 0.5) -> float:
    """CPU cores consumed by processes OUTSIDE our own process tree
    over a short window — the contention signal load averages cannot
    give once our own JVM is (or recently was) hot: the END sample of
    a 20-minute 32-core bench always shows load1 ≈ 4 from our own
    decaying run, while this stays ~0 on a genuinely quiet host."""

    def snap():
        with open("/proc/stat") as fh:
            v = list(map(int, fh.readline().split()[1:9]))
        # minus idle, iowait, AND steal (ADVICE r9): steal jiffies are
        # hypervisor time no local process consumed — counting them as
        # busy would report phantom foreign cores on a clean guest.
        busy = sum(v) - v[3] - v[4] - v[7]
        mine = {}
        for pid in _self_tree():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f_ = fh.read().rpartition(")")[2].split()
                mine[pid] = int(f_[11]) + int(f_[12])  # utime + stime
            except (OSError, IndexError, ValueError):
                continue
        return busy, mine

    try:
        b0, m0 = snap()
        time.sleep(interval)
        b1, m1 = snap()
        hz = os.sysconf("SC_CLK_TCK")
        # Per-pid deltas over pids alive in BOTH snapshots: a totals
        # subtraction would go negative by a process's whole LIFETIME
        # CPU if any of our pids (a pyspark daemon, the JVM at
        # shutdown) exits inside the window, reporting huge phantom
        # foreign cores on a quiet host. A self pid that exits
        # mid-window loses only its in-window jiffies (bounded by
        # interval × cores), not its lifetime.
        # A self pid that SPAWNS mid-window (pyspark worker daemons
        # fork exactly as a bench starts) appears only in m1; its
        # whole jiffy count accrued inside the window, so it is self
        # time, not foreign (ADVICE r9).
        mine_delta = sum(
            max(0, m1[p] - m0.get(p, 0)) for p in m1
        )
        return round(
            max(0.0, ((b1 - b0) - mine_delta) / hz / interval), 2
        )
    except (OSError, ValueError):
        return -1.0


def _cpu_ref_ms() -> float:
    """Single-core CPU reference probe: a fixed deterministic workload
    (sha256 over 32 MB), timed. Purpose (r12): the r11 official-vs-
    gated spread was 63% on IDENTICAL code with every local gate
    green — day-scale hypervisor co-tenancy is invisible to load
    averages, foreign-core accounting, and steal time. This number
    makes it measurable: compare cpu_ref_ms across runs before
    comparing op timings; a run whose probe is 1.5× another's was
    executed on effectively different hardware and its totals must be
    normalized, not trusted raw."""
    import hashlib

    def once() -> float:
        h = hashlib.sha256()
        blk = b"\x5a" * 1_048_576
        t0 = time.perf_counter()
        for _ in range(32):
            h.update(blk)
        # Interpreter-bound second half (pure-python loop): hashing
        # alone rides fixed-function units and can look healthy while
        # scheduler/memory pressure is degrading everything else.
        s = 0
        for i in range(2_000_000):
            s += i
        return (time.perf_counter() - t0) * 1000

    # Warm-up run first, report the second (r13): the gate samples on
    # an idle host whose CPU governor has downclocked — the r13 gated
    # run's start probe read 569 ms against ~110 ms warm, a 5×
    # frequency artifact that would wrongly flag the run as
    # different-hardware. The first run spins the clock up; the
    # second measures the frequency the suite will actually get.
    once()
    return round(once(), 2)


def _quiescence() -> dict:
    """Host-contention self-flagging (VERDICT r6 item — the r6/r7
    bench spread was diagnosed as host contention only by inference):
    1/5-minute load averages, a count of FOREIGN java processes
    (excluding this bench's own process tree, so the end-of-run sample
    is meaningful — r8's end sample always reported our own JVM), and
    foreign CPU cores measured over a 0.5 s window. A row with
    other_jvms > 0 or foreign_cpu_cores >> 0 was measured on a
    contended host and should be discounted (BASELINE.md's ±25%
    variance history). load1 in the END sample reflects our own
    just-finished run's decay — foreign_cpu_cores is the field that
    stays ~0 on a clean host at both ends."""
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = -1.0
    other_jvms = 0
    mine = _self_tree()
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) in mine:
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        other_jvms += 1
            except OSError:
                continue  # raced process exit
    except OSError:
        other_jvms = -1
    return {
        "load1": round(load1, 2),
        "load5": round(load5, 2),
        "other_jvms": other_jvms,
        "foreign_cpu_cores": _foreign_cpu_cores(),
        "cpu_ref_ms": _cpu_ref_ms(),
    }


def _await_quiet_host() -> dict:
    """Quiet-host GATE (VERDICT r9 #7 / r10 #8: every round's start
    sample so far caught a foreign JVM or load1 ≈ 3, so the per-op
    medians carry the documented ±9-12% host-variance band): spin-wait
    up to $BENCH_QUIESCE_WAIT_SEC (default 900) for load1 < 1.0 AND
    load5 < 1.0 AND other_jvms == 0 AND foreign_cpu_cores < 0.5,
    sampling every 10 s. Never fails the bench — on timeout the run
    proceeds and the quiesce block records gate_met: false plus the
    wait, so a contended-host number is self-flagged instead of
    silently noisy."""
    budget = float(os.environ.get("BENCH_QUIESCE_WAIT_SEC", "900"))
    t0 = time.monotonic()
    while True:
        q = _quiescence()
        waited = round(time.monotonic() - t0, 1)
        # load5 < 1.0, tightened from < 2.0 (VERDICT r11 #1): the
        # official r11 run passed the old gate at load5 = 1.96 — 2%
        # under the threshold after a 285 s wait — and came out ~34%
        # slower per-op than the builder's gated run of the SAME code;
        # the r11 shakedown had already measured decaying load5 ≈ 2
        # predicting ~20%+ degradation. load5 < 1.0 means the host has
        # been genuinely quiet for minutes, not merely idle this
        # minute. The default wait budget rises 420 → 900 s to let a
        # post-test-suite load5 actually decay below 1.0 (≈5-minute
        # half-life): a longer wait is cheaper than a poisoned number.
        q["gate_met"] = (
            0 <= q["load1"] < 1.0
            and 0 <= q["load5"] < 1.0
            and q["other_jvms"] == 0
            and 0 <= q["foreign_cpu_cores"] < 0.5
        )
        q["gate_waited_sec"] = waited
        if q["gate_met"] or waited + 10 > budget:
            return q
        time.sleep(10)


def _end_quiescence() -> dict:
    """End-of-run sample with its own gate verdict (VERDICT r11 #1:
    record whether the host was STILL clean when the numbers
    finished). Load averages at the end reflect our own just-finished
    32-thread run's decay, so the end gate uses only the
    self-excluding signals: no foreign JVM appeared and foreign CPU
    stayed ~0 across the run."""
    q = _quiescence()
    q["gate_met"] = (
        q["other_jvms"] == 0 and 0 <= q["foreign_cpu_cores"] < 0.5
    )
    return q


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    only = sys.argv[1:]  # optional operator-name filter
    quiesce = _await_quiet_host()  # gate + sample before our JVM exists

    # Guarantee exactly one JSON line on stdout: save the real stdout fd,
    # then point fd 1 at stderr for the whole run — the JVM inherits fd 1,
    # so this silences its console chatter (progress bars, log4j fallback)
    # at the fd level, not just sys.stdout. r1's bench output was unparsable
    # because of exactly that pollution.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from logdb_spark.plans.session import get_spark
    from logdb_spark.registry import all_operators

    spark = get_spark("logdb-bench")
    # Silence WindowExec's single-partition warning (VERDICT r9 #6):
    # every partition-less window in the repo is declared bounded via
    # functions.ranking.bounded_global_window and swept by
    # tests/test_plans.py::test_no_raw_global_windows — a NEW unbounded
    # window fails that test instead of logging. ~300 known-bounded
    # repeats of this warning were burying real regressions in the
    # bench tail the driver captures.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j API drift: noisy tail, never a failed bench
    ops = all_operators()
    names = [n for n in sorted(ops) if not only or n in only]

    # Per-config sidecars: each full-suite run writes
    # BENCH_DETAIL_c{cpus}.json, so runs at different core counts keep
    # separate records; BENCH_DETAIL.json is the full-host canonical.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    base_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(base_dir, "BENCH_DETAIL.json")
    config_path = os.path.join(base_dir, f"BENCH_DETAIL_c{cpus}.json")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf_dir

    def execute(name: str) -> None:
        ops[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    def measure(name: str) -> float:
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            execute(name)
            samples.append(time.perf_counter() - t0)
        return round(statistics.median(samples), 3)

    timings: dict[str, float] = {}
    for name in names:
        execute(name)  # warm-up (plan compile, code cache, file listing)
        timings[name] = measure(name)
        # Ops that persist() intermediates (LSH signatures, pair kernels)
        # would otherwise accumulate cached blocks across the full-registry run.
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # The driver captures only ~2.2 KB of stdout; a full-registry timing map
    # (~4.5 KB) overflowed it in r1 AND r2 ("parsed": null both rounds).
    # Keep the stdout line compact — top-10 slowest only — and write the
    # full per-query map to a sidecar the judge can read.
    detail = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "n_queries": len(timings),
        "cpus": cpus,
        "runs_per_query": runs,
        "quiesce_start": quiesce,
        "quiesce_end": _end_quiescence(),
    }
    # A name-filtered run (debug/smoke, per-op A/B) must not clobber
    # the sidecars, which record full-suite runs. Full-suite runs write
    # their per-config sidecar always, and the canonical
    # BENCH_DETAIL.json only when this run IS the full-host config — a
    # reduced-core run never overwrites the full-host record.
    if not only:
        with open(config_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        if cpus == str(os.cpu_count()):
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
    # Full-suite runs keep stdout under the driver's ~2.2 KB capture by
    # reporting top-10 only (full map in the sidecar). Name-filtered
    # debug/A-B runs have no sidecar, so emit every timed op instead.
    top10 = (
        dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
        if not only
        else timings
    )
    line = json.dumps(
        {
            "metric": "suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": top10,
            "sf": detail["sf"],
            "n_queries": len(timings),
            "quiesce": quiesce,
            "detail": os.path.basename(config_path),
        },
        separators=(",", ":"),
    )
    os.write(real_stdout, (line + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
