"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from spans import (  # noqa: E402
    GROUP_PREFIX,
    Outcomes,
    Span,
    latency_summary,
    percentile,
    percentile_supported,
    self_time_by_layer,
    self_times,
)

RECORDED_LOG = os.path.join(HERE, "testdata", "eventlog.jsonl")


# ------------------------------------------------------------ percentiles


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 11)]
    assert percentile(xs, 0.5) == 5.0
    assert percentile(xs, 0.9) == 9.0
    assert percentile(list(reversed(xs)), 0.9) == 9.0
    assert percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_percentile_needs_ten_samples_beyond_it():
    assert not percentile_supported(19, 0.5)
    assert percentile_supported(20, 0.5)
    assert not percentile_supported(99, 0.9)
    assert percentile_supported(100, 0.9)


def test_latency_summary_reports_sample_count():
    s = latency_summary([float(i) for i in range(40)])
    assert s["n"] == 40
    assert s["p50_supported"] and not s["p90_supported"]
    assert s["p50_ms"] == 19.0 and s["p90_ms"] == 35.0


# ------------------------------------------------------------ error counting


def test_outcomes_count_failures_against_attempts():
    o = Outcomes()
    o.ok()
    o.fail("search", "boom")
    assert o.check("oracle:x", True)
    assert not o.check("oracle:y", False, "3 rows differ")
    assert (o.attempted, o.failed) == (4, 2)
    assert o.error_rate == 0.5
    assert o.failures == [("search", "boom"), ("oracle:y", "3 rows differ")]
    other = Outcomes()
    other.fail("feed", "short")
    o.merge(other)
    assert (o.attempted, o.failed) == (5, 3)
    assert Outcomes().error_rate == 0.0


# ---------------------------------------------------------------- spans


def _span(name, layer, parent, start, end):
    return Span(name, layer, 1, parent, start, end)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("req", "request", None, 0.0, 10.0),
        _span("build", "api", 0, 1.0, 3.0),
        _span("exec", "exec", 0, 3.0, 9.0),
        _span("inner", "tablefmt", 2, 4.0, 5.0),
    ]
    assert self_times(spans) == pytest.approx([2.0, 2.0, 5.0, 1.0])
    assert self_time_by_layer(spans) == pytest.approx(
        {"request": 2000.0, "api": 2000.0, "exec": 5000.0, "tablefmt": 1000.0}
    )


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span("p", "request", None, 0.0, 10.0),
        _span("a", "exec", 0, 2.0, 6.0),
        _span("b", "exec", 0, 4.0, 8.0),  # overlaps a: union is 2..8
        _span("c", "exec", 0, 9.0, 12.0),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


# ------------------------------------------------------------- event log


def _ev(**kw):
    return json.dumps(kw)


def _task_end(stage, run, cpu_ns, gc=0, sw=0, rr=0, lr=0, spill=0, accs=()):
    return _ev(**{
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in accs]},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
        },
    })


SQL = "org.apache.spark.sql.execution.ui."
HAND_LOG = [
    _ev(**{
        "Event": SQL + "SparkListenerSQLExecutionStart",
        "executionId": 7,
        "time": 1_000,
        "sparkPlanInfo": {
            "nodeName": "WriteFiles",
            "metrics": [],
            "children": [{
                "nodeName": "ArrowEvalPython",
                "metrics": [
                    {"name": "number of output rows", "accumulatorId": 50},
                    {"name": "data sent to Python workers", "accumulatorId": 51},
                    {"name": "data returned from Python workers", "accumulatorId": 52},
                ],
                "children": [],
            }],
        },
    }),
    _ev(**{
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 1_040,
        "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
        "Properties": {"spark.jobGroup.id": GROUP_PREFIX + "1", "spark.sql.execution.id": "7"},
    }),
    _task_end(0, 100, 80_000_000, gc=5, sw=2_000_000),
    _task_end(0, 50, 40_000_000, sw=1_000_000),
    _task_end(1, 30, 20_000_000, rr=1_000_000, lr=2_000_000, spill=500_000,
              accs=[(50, 1000), (51, 300_000), (52, 200_000), (99, 5)]),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_300}),
    # A job on a streaming thread: no group, attributed by wall clock.
    _ev(**{
        "Event": "SparkListenerJobStart",
        "Job ID": 1,
        "Submission Time": 5_500,
        "Stage Infos": [{"Stage ID": 1}, {"Stage ID": 2}],
        "Properties": {},
    }),
    _task_end(2, 10, 5_000_000),
    _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5_600}),
    '{"Event": "SparkListenerJobStart", "Job ID": 2, "Submis',  # torn tail
]


def test_parse_hand_written_log():
    log = eventlog.parse(HAND_LOG)
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs[0].group == GROUP_PREFIX + "1"
    assert log.jobs[0].sql_id == 7 and log.jobs[1].sql_id is None
    # stage 1 is listed by both jobs but runs in job 0
    assert log.stages[1].job == 0 and log.stages[2].job == 1
    assert log.python_accums == {50: "rows", 51: "bytes", 52: "bytes"}

    t = eventlog.totals(log, [0])
    assert t["jobs"] == 1 and t["stages"] == 2 and t["tasks"] == 3
    assert t["task_run_ms"] == 180 and t["task_cpu_ms"] == pytest.approx(140.0)
    assert t["gc_ms"] == 5
    assert t["shuffle_write_mb"] == pytest.approx(3.0)
    assert t["shuffle_read_mb"] == pytest.approx(3.0)
    assert t["spill_mb"] == pytest.approx(0.5)
    assert t["python_rows"] == 1000 and t["python_mb"] == pytest.approx(0.5)
    assert t["sched_gap_ms"] == 40
    assert eventlog.totals(log, [1])["stages"] == 1


def test_attribute_by_group_then_by_wall_clock():
    log = eventlog.parse(HAND_LOG)
    spans = [
        Span("req", "request", 1, None, 0.9, 1.5),
        Span("exec", "exec", 1, 0, 1.0, 1.4),
        Span("feed", "streaming", 2, None, 5.0, 6.0),
        Span("inner", "exec", 2, 2, 5.4, 5.8),
    ]
    # job 0 by its group (span 1); job 1 by the innermost window (span 3)
    assert eventlog.attribute(log, spans) == {0: 1, 1: 3}
    assert eventlog.attribute(log, spans[:1]) == {}  # group names a span not kept


@pytest.mark.skipif(not os.path.exists(RECORDED_LOG), reason="no recorded log")
def test_parse_recorded_spark_log():
    """A log Spark 4.1 wrote for a grouped query and a pandas UDF."""
    with open(RECORDED_LOG) as f:
        log = eventlog.parse(f)
    assert log.jobs and all(j.end is not None for j in log.jobs.values())
    grouped = [j for j, job in log.jobs.items() if (job.group or "").startswith(GROUP_PREFIX)]
    assert grouped
    t = eventlog.totals(log, list(log.jobs))
    assert t["tasks"] >= t["stages"] >= 1
    assert t["task_cpu_ms"] > 0 and t["task_run_ms"] > 0
    assert t["shuffle_write_mb"] > 0
    assert t["python_rows"] > 0
    assert t["sched_gap_ms"] >= 0


def test_every_declared_metric_is_in_benchmark_json():
    import layers
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.declared()


# ----------------------------------------------------------- output checks


def _bm25(docs: dict[int, str], terms: list[str]) -> dict[int, float]:
    toks = {d: t.split(" ") for d, t in docs.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for d, t in toks.items():
        s = 0.0
        for term in terms:
            df = sum(term in x for x in toks.values())
            c = t.count(term)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            s += idf * (c * 2.2) / (c + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
        if s > 0:
            out[d] = s
    return out


def test_bm25_oracle_ranks_by_unrounded_score():
    """Two documents whose scores agree to four places: the top-k cut
    must follow the exact score, not the rounded one plus the id."""
    duckdb = pytest.importorskip("duckdb")
    import checks

    docs = {73: " ".join(["order"] * 6 + ["x"] * 49), 826: " ".join(["order"] * 9 + ["y"] * 75)}
    docs.update({i: "a b c d e f" for i in range(1000, 1040)})
    exact = _bm25(docs, ["order"])
    assert round(exact[73], 4) == round(exact[826], 4) and exact[826] > exact[73]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(docs.items()))
    rows = con.execute(checks._bm25_sql({"terms": ["order"], "k": 1})).fetchall()
    assert [r[0] for r in rows] == [826]


# ------------------------------------------------------------ run record


def test_steal_share_of_cpu_time():
    import run

    before = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    after = [160, 0, 70, 900, 10, 0, 0, 60, 5, 0]  # guest time is not counted
    assert run.steal_pct(before, after) == pytest.approx(100.0 * 20 / 200)


def test_work_is_fixed_by_the_arguments():
    from workloads import _units

    assert [_units(s, 10.0) for s in (1, 10, 14.9, 15, 20, 30)] == [1, 1, 1, 2, 2, 3]
