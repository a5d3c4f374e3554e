"""Benchmark entry point.

    python3 perfbench/run.py --workload {interactive,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The run starts the program's
own Spark session (``logdb_spark.plans.session.get_spark``) on
local[2], sets the workload up and warms it, measures a fixed amount of
work sized to take about ``--seconds`` on a 4-core host, checks the
outputs, and prints a human-readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``:

- ``setup_s``: the cold path from launching the Spark JVM through the
  workload's set-up and warm-up to the first timed request. It runs
  once per process (a second cold path costs as much again), so its
  steadiness comes from the median over runs.
- ``p50_ms``: median latency of the workload's operation: an
  interactive request (build plus execution), or an ingest append (batch
  handed to the writer until ``commit`` returns, checkpoint included).
  The p90 of the same samples is printed on a text line, with its
  sample count, but is not in the JSON line: a run holds 36 or 12
  samples, too few for a p90 steady enough to gate on.
- ``ops_per_s``: operations completed per second over the whole loop.
- ``read_p50_ms``: median read latency: the execution of an
  interactive request after its plan is built, or the snapshot read
  after each ingest commit.
- ``cpu_ms_per_op``: CPU time of the process tree (client, JVM and
  Python workers) over the loop, per operation. Unlike the times above
  it does not count time the host took the CPUs away (steal).
- ``peak_rss_mb``: peak resident memory of the process tree.

With ``--trace 1`` the session runs with the Spark event log on, and
after a full warm-up the run measures the workload twice, each time
with the work of ``--seconds / 2`` and a fresh set-up: first traced (one
span and job group per call into a layer), then untraced. The metrics
are the per-layer metrics, including the tracing overhead.

A record of every run (host state at start and end, seed, code
fingerprint, all metrics) is appended to ``perfbench/.work/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark task slots. Two of the host's four CPUs run tasks; the others
# take the JVM's scheduler, listener and GC threads, the Python client
# and the Python workers, so no more threads are runnable than CPUs. At
# local[4] the same seed read p50_ms 383-484 in three runs; at local[2],
# interleaved with those, 417-422.
CORES = 2
DRIVER_MEM = "2g"
WORKLOADS = ("interactive", "ingest")
END_TO_END = {
    "setup_s": "s", "p50_ms": "ms", "ops_per_s": "1/s",
    "read_p50_ms": "ms", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB",
}


def _environment(work: str, trace: bool) -> None:
    """Keep every file the program and Spark write inside the work
    directory, and let Python workers import the program."""
    for d in ("tmp", "spark-local", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # The driver heap is committed and touched up front (-Xms equal to
    # the -Xmx that spark.driver.memory sets, plus AlwaysPreTouch), so
    # resident memory does not follow the timing of heap growth and GC.
    # The JIT stops at C1: with C2 on, its compiler threads burned
    # 33 s of CPU during an 18 s interactive loop on 4 cores and were
    # still at half a core after 60 s, so latencies tracked how far
    # compilation had got and how much CPU the host left for it. With
    # C1 only, blocks of requests run at the same speed from the first
    # one, at a similar median latency and half the CPU.
    java_opts = (
        f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
    )
    # No JVM performance-data file under the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f'--driver-java-options "{java_opts}"',
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        f"--conf spark.local.dir={work}/spark-local",
        f"--conf spark.eventLog.dir=file://{work}/events",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        f"--conf spark.eventLog.enabled={str(trace).lower()}",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _sweep(work_root: str) -> None:
    """Remove the work directories of earlier runs that were killed
    before they could clean up after themselves."""
    for name in os.listdir(work_root):
        if not name.startswith("run-"):
            continue
        try:
            os.kill(int(name[4:]), 0)
            continue  # that run is still going
        except (ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)


def _code_fingerprint() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "logdb_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_commit": commit, "code_sha256": h.hexdigest()[:16]}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        from bench import _self_tree

        total = 0
        for pid in _self_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak / 1e6


def tree_cpu_s() -> float:
    """CPU time (user and system, with that of reaped children) of this
    process and all its descendants, in seconds."""
    from bench import _self_tree

    ticks = 0
    for pid in _self_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_counters() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor gave to other guests
    between two /proc/stat readings."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d[:8]))


def measure(wl, seconds: float, tracer=None):
    """One measured loop, with the CPU time it used."""
    from spans import NullTracer

    cpu0 = tree_cpu_s()
    phase = wl.run(seconds, tracer or NullTracer())
    phase.cpu_s = tree_cpu_s() - cpu0
    return phase


def _shutdown(spark) -> None:
    """Stop Spark, close the JVM gateway and wait for every child
    process (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    _reap(grace=30)


def _reap(grace: float) -> None:
    """Wait up to ``grace`` seconds for every descendant process to
    exit, then terminate and finally kill the rest, reaping each."""
    from bench import _self_tree

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        rest = _self_tree() - {os.getpid()}
        for pid in rest if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + (grace if sig is None else 10)
        while rest and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.2)
            rest = _self_tree() - {os.getpid()}
        if not rest:
            return


def end_to_end(phase, setup_s: float, rss_mb: float) -> dict:
    from spans import percentile

    lat = phase.latencies_ms
    return {
        "setup_s": setup_s,
        "p50_ms": percentile(lat, 0.5),
        "p90_ms": percentile(lat, 0.9),
        "ops_per_s": len(lat) / phase.elapsed_s,
        "read_p50_ms": percentile(phase.read_ms, 0.5),
        "cpu_ms_per_op": 1000 * phase.cpu_s / len(lat),
        "peak_rss_mb": rss_mb,
    }


def report_lines(workload: str, phase, metrics: dict, outcomes, record: dict) -> list[str]:
    """The workload's end-to-end metrics under their workload-specific
    names, with sample counts, and the counts behind ``correct``."""
    from spans import latency_summary

    s = latency_summary(phase.latencies_ms)
    n = f"n={s['n']} p90_supported={s['p90_supported']}"
    reads = f"n={len(phase.read_ms)}"
    x = phase.extra
    if workload == "interactive":
        lines = [
            f"interactive.p50_ms {metrics['p50_ms']:.2f} ms {n}",
            f"interactive.p90_ms {metrics['p90_ms']:.2f} ms {n}",
            f"interactive.qps {metrics['ops_per_s']:.3f} 1/s",
            f"interactive.exec_p50_ms {metrics['read_p50_ms']:.2f} ms {reads}",
        ]
    else:
        lines = [
            f"ingest.commit_p50_ms {metrics['p50_ms']:.2f} ms {n}",
            f"ingest.commit_p90_ms {metrics['p90_ms']:.2f} ms {n}",
            f"ingest.appends_per_s {metrics['ops_per_s']:.3f} 1/s",
            f"ingest.rows_per_s {x['rows'] / phase.elapsed_s:.1f} 1/s",
            f"ingest.read_p50_ms {metrics['read_p50_ms']:.2f} ms {reads}",
            f"ingest.write_amp {x['bytes_written'] / x['input_bytes']:.4f} ratio",
            f"ingest.commits {x['commits']} checkpoints {x['checkpoints']}",
        ]
    lines += [
        f"{workload}.setup_s {metrics['setup_s']:.3f} s "
        f"(jvm+session {record['wall_s']['session']:.2f} s, "
        f"to first request {record['wall_s']['setup']:.2f} s)",
        f"{workload}.host_steal_pct {record['host_steal_pct']:.1f} % "
        f"(CPU time the host gave to other guests during the run)",
        f"{workload}.cpu_ms_per_op {metrics['cpu_ms_per_op']:.1f} ms",
        f"{workload}.peak_rss_mb {metrics['peak_rss_mb']:.1f} MB",
        f"{workload}.error_rate {outcomes.error_rate:.4f} ratio "
        f"attempted={outcomes.attempted} failed={outcomes.failed}",
    ]
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    _sweep(work_root)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]

    # Only the result may reach stdout: Spark's JVM inherits fd 1, so
    # point it at stderr for the run and keep the real stdout.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        import logdb_spark  # noqa: F401 — fail fast outside a checkout

        from bench import _quiescence

        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": os.cpu_count(), "spark_cores": CORES,
            **_code_fingerprint(), "host_start": _quiescence(),
        }
        rss = RssSampler()
        rss.start()
        lines, payload = _run(args, work, bool(args.trace), rss, record)
        record["host_end"] = _quiescence()
        record["result"] = payload
        with open(os.path.join(work_root, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        print(json.dumps(record, indent=1), file=sys.stderr)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        sys.stdout = sys.__stdout__
        if "bench" in sys.modules:
            _reap(grace=0)  # a run that failed part-way leaves its JVM
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(payload, separators=(",", ":")))
    return 0


def _run(args, work: str, trace: bool, rss: RssSampler, record: dict):
    import workloads
    from spans import Outcomes, Tracer

    t_start = time.perf_counter()
    wall = record.setdefault("wall_s", {})

    def mark(stage: str) -> float:
        wall[stage] = round(time.perf_counter() - t_start, 2)
        return wall[stage]

    wl = workloads.make(args.workload, args.seed, work)
    mark("inputs")
    stat0 = _cpu_counters()

    from logdb_spark.plans.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    wall["session"] = round(time.perf_counter() - t0, 2)
    wl.setup(spark)
    wall["setup"] = round(time.perf_counter() - t0, 2)
    wl.warm(full=trace)
    setup_s = time.perf_counter() - t0
    mark("warm")

    untraced = None
    if trace:
        # The traced half runs first, on a slightly less warm JVM, and
        # the event log runs in both halves (its listener writes are
        # asynchronous): the overhead is that of spans and job groups,
        # read a little high.
        tracer = Tracer(spark.sparkContext)
        phase = measure(wl, args.seconds / 2, tracer)
        mark("run_traced")
        wl.setup(spark)
        untraced = measure(wl, args.seconds / 2)
    else:
        phase = measure(wl, args.seconds)
    mark("run")
    record["host_steal_pct"] = round(steal_pct(stat0, _cpu_counters()), 2)

    outcomes = Outcomes()
    outcomes.merge(phase.outcomes)
    if untraced is not None:
        outcomes.merge(untraced.outcomes)
    wl.check(outcomes)
    mark("checks")
    for what, why in outcomes.failures:
        print(f"FAILED {what}: {why}", file=sys.stderr)
    _shutdown(spark)
    rss_mb = rss.stop()
    mark("shutdown")

    metrics = end_to_end(phase, setup_s, rss_mb)
    lines = report_lines(args.workload, phase, metrics, outcomes, record)
    record["end_to_end"] = metrics
    record["samples"] = len(phase.latencies_ms)
    record["latencies_ms"] = [round(v, 1) for v in phase.latencies_ms]
    record["read_ms"] = [round(v, 1) for v in phase.read_ms]
    record["extra"] = phase.extra
    if trace:
        import layers

        spans_path = os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans_path)
        base = end_to_end(untraced, setup_s, rss_mb)
        out = layers.per_layer(
            tracer.spans, os.path.join(work, "events"), phase, base, metrics
        )
        record["untraced"] = base
    else:
        out = {k: {"value": metrics[k], "unit": unit} for k, unit in END_TO_END.items()}
    payload = {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": out,
    }
    return lines, payload


if __name__ == "__main__":
    sys.exit(main())
