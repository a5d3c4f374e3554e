"""Temporal canonicalization.

``events.ts`` is ns-precision on disk; Spark sees µs (sources/load),
DuckDB sees ns. Any checked output therefore emits time either as a
string (``ts_str``) or truncated to whole seconds (``ts_second``) —
both representations are precision-stable across the two engines
because truncation to seconds commutes with the ns→µs floor.
``l_shipdate``/``o_orderdate`` are ms-precision and round-trip exactly,
but get the same treatment for uniformity.

``sessions`` and ``hourly_series`` are the two physical patterns the
log composites share: gap sessionization per user, and the hourly
series with its optional dense hour grid. Each caller is a projection
of one of them. The other shape the operators repeat, the iterative
loop (``llm._cc_loop``, ``llm._ivf_centroids``,
``log_pagerank_influence``), has no kernel on purpose: the three loops
stop on different rules and cut lineage in different ways, so a shared
loop would be a wrapper whose callers still pass every decision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from logdb_spark.functions.ranking import bounded_global_window


def ts_str(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """Format a timestamp as a canonical string (DuckDB: strftime)."""
    return F.date_format(col, fmt)


def ts_second(col: Column | str) -> Column:
    """Truncate a timestamp to whole seconds (DuckDB: date_trunc('second'))."""
    return F.date_trunc("second", col)


def epoch_seconds(col: Column | str) -> Column:
    """Whole seconds since epoch (floor). DuckDB: epoch(date_trunc('second', ts))."""
    return F.col(col).cast("long") if isinstance(col, str) else col.cast("long")


# Gap sessionization: a user's event opens a new session when no event
# precedes it or the previous one is more than SESSION_GAP_S earlier.
SESSION_GAP_S = 1800


def user_order() -> WindowSpec:
    """Each user's events in time order, ``event_id`` breaking ties —
    the order ``sessions`` numbers them in."""
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


def sessions(ev: DataFrame) -> DataFrame:
    """``ev`` with ``ts`` truncated to whole seconds and, per user in
    ``user_order()``, ``new_session`` (1 for the first event and after
    a gap ``> SESSION_GAP_S``, else 0) and ``session_id`` (the running
    sum of ``new_session``). Both windows share the user_id partitioning,
    so the callers' per-session aggregates add no shuffle.

    Kept apart on purpose:
    - ``streaming.batch_equiv.session_counts`` (``LogDB.sessionize``,
      ``stream_session_window``) is Spark's native merging
      ``session_window``, the only form that runs on an unbounded
      stream; this kernel's running sum needs the whole partition.
    - ``udtf_explode_sessions`` sessionizes in Python to exercise the
      UDTF boundary.
    - ``win_lag_lead_delta`` emits the raw gap, not sessions.
    """
    w = user_order()
    prev = F.lag("ts").over(w)
    return (
        ev.withColumn("ts", ts_second("ts"))
        .withColumn(
            "new_session",
            F.when(
                prev.isNull()
                | (epoch_seconds("ts") - epoch_seconds(prev) > SESSION_GAP_S),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )


def hour_order() -> WindowSpec:
    """The hourly series in time order, with no partition key: it runs
    over the aggregate, one row per hour of a month-long corpus."""
    return bounded_global_window(
        "hh", max_rows=720, why="calendar hour grid (<=720 rows/month)"
    )


def hourly_series(
    ev: DataFrame,
    measures: list[Column],
    keys: tuple[str, ...] = (),
    dense: bool = False,
) -> DataFrame:
    """The aggregate ``measures`` of ``ev`` per (``keys``, ``hh``), where
    ``hh`` is ``ts`` truncated to the hour. Keys that depend only on the
    hour (the hour of day, the day, a 6-hour window id) are derived from
    ``hh`` by the caller after the aggregate, not grouped on.

    ``dense`` left-joins the series onto every hour between its own
    first and last ``hh``, crossed with its distinct ``keys``; the
    measures are NULL in the hours with no row. The grid is stated over
    the aggregate (its 1-row min/max exploded by ``sequence``, its
    distinct keys broadcast); Catalyst plans each of the two as an
    aggregate of its own over ``ev``.
    """
    series = ev.groupBy(*keys, F.date_trunc("hour", "ts").alias("hh")).agg(
        *measures
    )
    if not dense:
        return series
    grid = series.agg(F.min("hh").alias("lo"), F.max("hh").alias("hi")).select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hh")
    )
    if keys:
        grid = grid.crossJoin(F.broadcast(series.select(*keys).distinct()))
    return grid.join(series, [*keys, "hh"], "left")
