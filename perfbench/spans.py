"""Spans, percentiles and error counting for the benchmark.

A ``Tracer`` records one span per call into a layer of the program
(name, layer, start, end, parent, request id), kept in memory and
written out once at the end. While a span is open it is the Spark job
group of the calling thread, so the event-log parser can attribute
each job to the span that launched it. ``NullTracer`` is the untraced
stand-in: same interface, no spans, no job groups.
"""

from __future__ import annotations

import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench:"


def _rank(n: int, q: float) -> int:
    # round() first: 0.9 * 100 is 90.00000000000001 in binary floating point
    return max(1, math.ceil(round(q * n, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1]) of a non-empty list."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), q) - 1]


def percentile_supported(n: int, q: float) -> bool:
    """A percentile is reported as measured only when at least ten
    samples lie beyond it: p50 needs 20 samples, p90 needs 100."""
    return n - _rank(n, q) >= 10


def latency_summary(samples_ms: list[float]) -> dict:
    """Median and p90 with the sample count and whether the count
    supports each percentile."""
    n = len(samples_ms)
    return {
        "n": n,
        "p50_ms": percentile(samples_ms, 0.5),
        "p90_ms": percentile(samples_ms, 0.9),
        "p50_supported": percentile_supported(n, 0.5),
        "p90_supported": percentile_supported(n, 0.9),
    }


@dataclass
class Outcomes:
    """Operations attempted, and those that raised or returned a wrong
    output; each failure is kept with its reason. Safe to update from
    several threads."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False, compare=False)

    def ok(self) -> None:
        with self._lock:
            self.attempted += 1

    def fail(self, what: str, why: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failures.append((what, why))

    def check(self, what: str, passed: bool, why: str = "") -> bool:
        if passed:
            self.ok()
        else:
            self.fail(what, why or "mismatch")
        return passed

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    def merge(self, other: "Outcomes") -> None:
        self.attempted += other.attempted
        self.failures.extend(other.failures)


@dataclass
class Span:
    name: str
    layer: str
    req: int
    parent: int | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str, req: int):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, req, parent, time.time()))
        self._stack.append(idx)
        self._group(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def _group(self, idx: int | None) -> None:
        if self.sc is None:
            return
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{idx}", self.spans[idx].name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    spans: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str, req: int):
        yield


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it that its child
    spans cover (seconds)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Summed self time per layer, in milliseconds."""
    totals: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        totals[s.layer] = totals.get(s.layer, 0.0) + t * 1000
    return totals
