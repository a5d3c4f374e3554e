"""Reference checks for the two log-composite kernels in
``functions/temporal.py`` on generated edge inputs: each kernel's
output equals a pure-Python reference, row for row."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from logdb_spark.functions.temporal import SESSION_GAP_S, hourly_series, sessions

T0 = 1_700_000_000  # epoch seconds, not on an hour boundary
H0 = T0 - T0 % 3600  # the hour T0 falls in


def _events(spark, rows):
    """(user_id, event_id, epoch seconds as float, key) -> an events
    frame with a µs timestamp ``ts``."""
    df = spark.createDataFrame(
        [(u, i, float(e), k) for u, i, e, k in rows],
        "user_id long, event_id long, epoch double, k string",
    )
    return df.select(
        "user_id", "event_id", F.timestamp_seconds("epoch").alias("ts"), "k"
    )


def _sessions_reference(rows):
    out = set()
    by_user = sorted(rows, key=lambda r: (r[0], int(r[2]), r[1]))
    for _user, evs in itertools.groupby(by_user, key=lambda r: r[0]):
        prev, sid = None, 0
        for user, eid, epoch, _k in evs:
            sec = int(epoch)
            new = 1 if prev is None or sec - prev > SESSION_GAP_S else 0
            sid += new
            out.add((user, eid, sec, new, sid))
            prev = sec
    return out


def test_sessions_matches_reference_on_edge_gaps(spark):
    rows = [
        # user 1: a gap of exactly SESSION_GAP_S merges, one more splits
        (1, 10, T0, "a"),
        (1, 11, T0 + SESSION_GAP_S, "a"),
        (1, 12, T0 + 2 * SESSION_GAP_S + 1, "a"),
        # user 2: two events in one second, ordered by event_id, not
        # by their sub-second times; gaps are taken on whole seconds:
        # 22 is 1800.29 s after 21 and merges, 23 is 1800.01 s after
        # 22 (1801 whole seconds) and splits
        (2, 21, T0 + 0.2, "a"),
        (2, 20, T0 + 0.7, "a"),
        (2, 22, T0 + SESSION_GAP_S + 0.99, "a"),
        (2, 23, T0 + 2 * SESSION_GAP_S + 1, "a"),
        # user 3: a single event
        (3, 30, T0 + 5, "a"),
    ]
    got = {
        tuple(r)
        for r in sessions(_events(spark, rows))
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long"),
            "new_session",
            "session_id",
        )
        .collect()
    }
    assert got == _sessions_reference(rows)
    assert (2, 20, T0, 1, 1) in got and (2, 21, T0, 0, 1) in got
    assert [r[4] for r in sorted(got) if r[0] == 2] == [1, 1, 1, 2]
    assert [r[4] for r in sorted(got) if r[0] == 1] == [1, 1, 2]


def test_sessions_of_an_empty_input_is_empty(spark):
    assert sessions(_events(spark, [])).count() == 0


def _dense_reference(rows, keys):
    hours = [int(e) - int(e) % 3600 for _u, _i, e, _k in rows]
    counts = {}
    for (_u, _i, _e, k), hh in zip(rows, hours):
        key = (k,) if keys else ()
        counts[key + (hh,)] = counts.get(key + (hh,), 0) + 1
    grid_keys = {c[:-1] for c in counts}
    return {
        gk + (hh, counts.get(gk + (hh,)))
        for gk in grid_keys
        for hh in range(min(hours), max(hours) + 1, 3600)
    }


def _dense(spark, rows, keys):
    series = hourly_series(
        _events(spark, rows), [F.count(F.lit(1)).alias("n")], keys=keys, dense=True
    )
    return {
        tuple(r)
        for r in series.select(*keys, F.col("hh").cast("long"), "n").collect()
    }


def test_hourly_series_dense_matches_reference_on_edge_grids(spark):
    h = [H0 + i * 3600 for i in range(6)]
    rows = [
        # key a: hours 1, 3, 4 — missing at the start, middle and end
        (1, 1, h[1] + 10, "a"),
        (1, 2, h[1] + 3599.5, "a"),
        (1, 3, h[3], "a"),
        (1, 4, h[4] + 1, "a"),
        # key b spans the range: hours 0 and 5
        (2, 5, h[0] + 7, "b"),
        (2, 6, h[5] + 3000, "b"),
        # key c: absent from every hour but one
        (3, 7, h[2] + 60, "c"),
    ]
    for keys in (("k",), ()):
        got, want = _dense(spark, rows, keys), _dense_reference(rows, keys)
        assert got == want, keys
    assert len(_dense(spark, rows, ("k",))) == 6 * 3


def test_hourly_series_dense_of_a_single_hour(spark):
    rows = [(1, 1, H0 + 5, "a"), (2, 2, H0 + 3599, "b"), (3, 3, H0 + 60, "a")]
    got = _dense(spark, rows, ("k",))
    assert got == _dense_reference(rows, ("k",))
    assert got == {("a", H0, 2), ("b", H0, 1)}
