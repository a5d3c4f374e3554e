"""§2.E — window functions.

Every window here partitions by a bounded key (nation, user) so state
per partition is bounded; at 100 TB the shuffle is on the partition
key and the per-key sort is partition-local (no global sort anywhere).
Determinism discipline: every ORDER BY carries a unique tiebreaker
(custkey/event_id) so ranking and frame contents are identical across
engines (SURVEY.md §5.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logdb_spark.functions.numeric import dec4, dround, ratio
from logdb_spark.functions.ranking import (
    bounded_global_window,
    global_row_number,
)
from logdb_spark.functions.temporal import hourly_series, ts_str
from logdb_spark.registry import register
from logdb_spark.sources.load import load_table

SECTION = "2.E windows"


@register(
    "win_rank_dense_rownum",
    oracle="""
        SELECT c_custkey, c_nationkey, c_acctbal,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               row_number() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
    """,
    section=SECTION,
)
def win_rank_dense_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three ranking functions over one shuffle: same partition key
    means Catalyst computes them in a single Window node."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    wt = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.row_number().over(wt).alias("rn"),
    )


@register(
    "win_ntile_percent",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               ntile(4)       OVER w AS quartile,
               ROUND(percent_rank() OVER w, 6) AS pct_rank,
               ROUND(cume_dist()    OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
    section=SECTION,
)
def win_ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions over a global order — WITHOUT the
    single-partition window (VERDICT r3 #6: `Window.orderBy()` with no
    partition key moves 100 TB through one executor). Uses the
    two-phase bucketed global rank (factored into
    functions/ranking.py in r5 — agg_gini_revenue is the second call
    site): 64 value-range buckets via monotone width_bucket, bucket
    counts to the driver, global row_number = bucket-local PARTITIONED
    window rank + broadcast bucket offset.

    ntile/percent_rank/cume_dist are then pure arithmetic on the global
    row number — the ordering key (o_totalprice, o_orderkey) is unique,
    so rank == row_number, pct_rank = (rn-1)/(n-1), cume = rn/n, and
    ntile(4) is the standard first-(n%4)-tiles-get-one-extra split.
    Same output as the old single-partition form bit-for-bit (the
    unchanged oracle pins that); scales as one shuffle on a 64-way
    key plus two O(1) driver transfers."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked, n = global_row_number(spark, o, "o_totalprice", ["o_orderkey"])
    base, rem = divmod(n, 4)
    if base == 0:  # n < 4: tiles 1..n, one row each
        quartile = F.col("rn").cast("int")
    else:
        cut = rem * (base + 1)
        quartile = (
            F.when(F.col("rn") <= cut, (F.col("rn") - 1) / (base + 1))
            .otherwise(rem + (F.col("rn") - cut - 1) / base)
            .cast("int")  # truncation == floor for non-negative
            + 1
        )
    pct = (
        F.lit(0.0) if n <= 1 else (F.col("rn") - F.lit(1.0)) / F.lit(float(n - 1))
    )
    return ranked.select(
        "o_orderkey",
        "o_totalprice",
        quartile.alias("quartile"),
        ratio(pct).alias("pct_rank"),
        ratio(F.col("rn") / F.lit(float(n))).alias("cume"),
    )


@register(
    "win_lag_lead_delta",
    oracle="""
        WITH e AS (SELECT event_id, user_id, event_type,
                          date_trunc('second', ts) AS ts FROM events)
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               CAST(epoch(ts) - epoch(lag(ts) OVER w) AS BIGINT) AS gap_s,
               lead(event_type) OVER w AS next_type
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    section=SECTION,
)
def win_lag_lead_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap via lag — the sessionization primitive."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.date_trunc("second", "ts").alias("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        ts_str("ts").alias("ts_s"),
        (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")).alias("gap_s"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_running_sum",
    oracle="""
        SELECT event_id, user_id,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS DOUBLE) AS running_value
        FROM events
    """,
    section=SECTION,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-user value over time (decimal accumulator: the
    running sum is exact, so every prefix matches cross-engine)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.date_trunc("second", "ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        dround(F.sum(dec4("value")).over(w)).alias("running_value"),
    )


@register(
    "win_moving_avg_range",
    oracle="""
        WITH e AS (SELECT event_id, user_id, value,
                          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
                   FROM events)
        SELECT event_id, user_id,
               ROUND(AVG(value) OVER (
                   PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
               ), 6) AS avg_1h
        FROM e
    """,
    section=SECTION,
)
def win_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed moving average over the trailing hour — frame
    membership is by time value, not row position."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.date_trunc("second", "ts").cast("long").alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    return ev.select(
        "event_id", "user_id", ratio(F.avg("value").over(w)).alias("avg_1h")
    )


@register(
    "win_first_last",
    oracle="""
        WITH e AS (SELECT user_id, event_type,
                          date_trunc('second', ts) AS ts,
                          CAST(ts AS DATE) AS day, event_id
                   FROM events)
        SELECT DISTINCT user_id, strftime(day, '%Y-%m-%d') AS day,
               first_value(event_type) OVER w AS first_type,
               last_value(event_type)  OVER w AS last_type
        FROM e
        WINDOW w AS (PARTITION BY user_id, day ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    section=SECTION,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user-day over a full frame."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("second", "ts").alias("ts"),
        F.to_date("ts").alias("day"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
    ).distinct()


@register(
    "win_gap_islands",
    oracle="""
        WITH o AS (
            SELECT user_id, event_type, ts, event_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS rnt
            FROM events
        )
        SELECT user_id, event_type,
               COUNT(*) AS run_len,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS run_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS run_end
        FROM o
        GROUP BY user_id, event_type, rn - rnt
        HAVING COUNT(*) >= 3
    """,
    section=SECTION,
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of ≥3 consecutive same-type
    events per user (three errors in a row is an incident; three
    scattered errors are noise — ONLY a consecutive-run detector can
    tell them apart). The classic two-rank difference trick: the
    global-per-user rank minus the per-(user, type) rank is constant
    exactly within a consecutive run, so one groupBy on that constant
    reassembles the islands.

    Scale: both ranks partition by user (second also by type — same
    shuffle, finer key); no global window, no self-join, and the
    island groupBy is a bounded-key aggregation. Both ORDER BYs carry
    the event_id tiebreaker for cross-engine rank determinism."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            (F.row_number().over(wu) - F.row_number().over(wt)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            ts_str(F.min("ts")).alias("run_start"),
            ts_str(F.max("ts")).alias("run_end"),
        )
        .filter(F.col("run_len") >= 3)
        .drop("grp")
    )


@register(
    "win_rolling_median",
    oracle="""
        SELECT event_id, user_id,
               ROUND(median(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6)
                   AS med_10
        FROM events
    """,
    section=SECTION,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of the last 10 events per user — the
    robust moving statistic (a single spike drags a moving AVERAGE,
    the median shrugs it off). The surface under test is an arbitrary
    aggregate inside a window frame — ``percentile(...) OVER (ROWS
    BETWEEN ...)`` — not just the sum/avg/rank built-ins; Spark
    evaluates the exact percentile per frame. Partitioned by user
    with the (ts, event_id) tiebreak, so the frame sort stays
    partition-local; both engines interpolate even-count medians as
    the midpoint of the same two doubles, so the 6-dp round hashes
    identically."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        ratio(F.expr("percentile(value, 0.5)").over(w)).alias("med_10"),
    )


@register(
    "win_running_distinct",
    oracle="""
        WITH flagged AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN row_number() OVER (
                            PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) = 1
                        THEN 1 ELSE 0 END AS first_seen
            FROM events
        )
        SELECT event_id, user_id,
               CAST(SUM(first_seen) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_types_so_far
        FROM flagged
    """,
    section=SECTION,
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) — a window surface Spark (and SQL
    generally) has no direct form for, decomposed into two
    partition-local passes: flag each row that is the FIRST time its
    (user, event_type) pair appears, then running-sum the flags per
    user. Both windows partition on user-scoped keys, so each is one
    bounded shuffle and a partition-local sort; nothing global. The
    (ts, event_id) tiebreak makes first-occurrence deterministic
    under timestamp collisions. At 100 TB the same two windows
    co-partition: one exchange on user_id serves both (Catalyst
    reuses the exchange when the second window's keys prefix the
    first's)."""
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_seen = F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    flagged = ev.select(
        "event_id", "user_id", "ts", first_seen.alias("first_seen")
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("first_seen").over(w_run).cast("bigint").alias("n_types_so_far"),
    )


@register(
    "win_ewma",
    # Both engines fold the SAME ≤24-element list in the SAME index
    # order (Spark `aggregate` and DuckDB `list_sum` are sequential
    # left folds), over identical inputs (hourly sums are exact
    # decimal before the double drop) — the 6-dp round absorbs any
    # residual pow() ulp difference.
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS hh,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS rev
            FROM events GROUP BY 1, 2
        ), framed AS (
            SELECT event_type, hh, rev,
                   list(rev) OVER (
                       PARTITION BY event_type ORDER BY hh
                       ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS lst
            FROM hourly
        )
        SELECT event_type,
               strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour,
               rev,
               ROUND(
                   list_sum(list_transform(range(1, len(lst) + 1),
                            i -> lst[i] * pow(0.7, len(lst) - i)))
                   / list_sum(list_transform(range(1, len(lst) + 1),
                              i -> pow(0.7, len(lst) - i))), 6) AS ewma_24h
        FROM framed
    """,
    section=SECTION,
)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.3, normalized
    weights — pandas ``ewm(adjust=True)`` semantics) of hourly
    revenue per event type over a trailing 24-hour frame. EWMA's
    recursive definition has no associative aggregate form, so the
    scalable shape is: collapse the raw stream to bounded hourly
    rows FIRST (one shuffle, map-side partials), then materialize
    each ≤24-element frame with a windowed ``collect_list`` and fold
    it JVM-side with ``aggregate``/``zip_with`` lambdas — per-type
    partitions of ≤720 rows, arrays of ≤24 floats, no Python. The
    frame list is intermediate only; output cells stay scalar
    (SURVEY §7.3.5)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = hourly_series(
        ev, [dround(F.sum(dec4("value"))).alias("rev")], keys=("event_type",)
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hh")
        .rowsBetween(-23, Window.currentRow)
    )
    framed = hourly.withColumn("lst", F.collect_list("rev").over(w))
    num = F.expr(
        "aggregate(zip_with(lst, sequence(1, size(lst)),"
        " (x, i) -> x * pow(0.7, size(lst) - i)), 0D, (a, b) -> a + b)"
    )
    den = F.expr(
        "aggregate(transform(sequence(1, size(lst)),"
        " i -> pow(0.7, size(lst) - i)), 0D, (a, b) -> a + b)"
    )
    return framed.select(
        "event_type",
        ts_str(F.col("hh")).alias("hour"),
        "rev",
        ratio(num / den).alias("ewma_24h"),
    )


@register(
    "win_percent_of_total",
    oracle="""
        WITH n AS (
            SELECT n_name,
                   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS nation_bal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, nation_bal,
               ROUND(nation_bal / SUM(nation_bal) OVER (), 6)
                   AS pct_of_total,
               CAST(rank() OVER (ORDER BY nation_bal DESC, n_name)
                    AS INT) AS bal_rank
        FROM n
    """,
    section=SECTION,
)
def win_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis — each nation's share of total customer
    balance plus its rank: the report every dashboard opens with.
    The window runs over the AGGREGATED relation (25 nation rows),
    not the raw fact — aggregate first, window the bounded result —
    so the empty-frame global window touches 25 rows no matter how
    large the input (the same bounded-global-window posture as
    log_rate_spike). Balances sum in exact decimal before the
    double drop."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    n = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(dround(F.sum(dec4("c_acctbal"))).alias("nation_bal"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_rank = bounded_global_window(
        F.col("nation_bal").desc(), "n_name",
        max_rows=25, why="one row per nation (TPC-H fixed 25)",
    )
    return n.select(
        "n_name",
        "nation_bal",
        ratio(F.col("nation_bal") / F.sum("nation_bal").over(w_all)).alias(
            "pct_of_total"
        ),
        F.rank().over(w_rank).cast("int").alias("bal_rank"),
    )


@register(
    "win_vwap_running",
    # Both running sums accumulate in exact DECIMAL inside the frame,
    # so partitioned execution and engine choice cannot perturb them;
    # only the final per-row division drops to double (ROUND 6).
    oracle="""
        SELECT event_id, user_id,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))
                              * CAST(json_extract_string(props, '$.k')
                                     AS BIGINT)) OVER w AS DOUBLE)
                     / NULLIF(CAST(SUM(CAST(json_extract_string(props, '$.k')
                                            AS BIGINT)) OVER w AS DOUBLE),
                              0.0),
                     6) AS vwap
        FROM events
        WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    section=SECTION,
)
def win_vwap_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running volume-weighted average — VWAP, the anchored weighted
    mean every trading/pricing dashboard keeps: per user, cumulative
    Σ(price×volume)/Σ(volume) over purchases in time order (volume =
    the props payload's k). TWO running sums COMPOSED per row — a
    shape plain running_sum doesn't cover — sharing one
    user-partitioned window, so Catalyst evaluates both in a single
    WindowExec pass over one exchange. Weighted sums run in exact
    decimal (order-independent, partition-safe); the division is the
    only double op."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    k = F.get_json_object("props", "$.k").cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    num = F.sum(dec4("value") * k).over(w).cast("double")
    # NULLIF guards the zero-volume prefix (a user whose first
    # purchases carry k=0): both engines emit NULL there instead of
    # Spark's ANSI divide-by-zero error / IEEE inf.
    den = F.nullif(F.sum(k).over(w).cast("double"), F.lit(0.0))
    return ev.select(
        "event_id",
        "user_id",
        ratio(num / den).alias("vwap"),
    )


@register(
    "win_time_weighted_avg",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id,
                   CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
                   epoch(date_trunc('second', ts)) AS s,
                   CAST(value AS DECIMAL(18,4)) AS v
            FROM events
        ), seg AS (
            SELECT user_id, event_date, v,
                   lead(s) OVER (
                       PARTITION BY user_id, event_date
                       ORDER BY s, event_id) - s AS dt
            FROM e
        )
        SELECT user_id, event_date,
               COUNT(*) AS n_events,
               CAST(SUM(dt) AS BIGINT) AS active_seconds,
               ROUND(CAST(SUM(v * dt) AS DOUBLE) / SUM(dt), 6)
                   AS twa_value
        FROM seg WHERE dt IS NOT NULL
        GROUP BY user_id, event_date
        HAVING SUM(dt) > 0
    """,
    section=SECTION,
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user-day — the TWAP/telemetry
    aggregate where each reading holds until the next one: weight =
    seconds to the next event (lead over the user-day partition,
    deterministic (s, event_id) tiebreak), so a value that persisted
    an hour counts 3600× a one-second blip — the plain AVG a naive
    rollup computes is wrong whenever sampling is irregular. The
    weighted sum stays exact in decimal (dt integer seconds × dec4
    value); only the final division is a rounded double. One
    user-day-bounded window sharing its partitioning with the
    groupBy: one shuffle total, partitions stay session-sized at any
    corpus scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.to_date("ts").cast("string").alias("event_date"),
        F.date_trunc("second", "ts").cast("long").alias("s"),
        dec4("value").alias("v"),
    )
    w = Window.partitionBy("user_id", "event_date").orderBy("s", "event_id")
    seg = ev.select(
        "user_id",
        "event_date",
        "v",
        (F.lead("s").over(w) - F.col("s")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        seg.groupBy("user_id", "event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("dt").cast("bigint").alias("active_seconds"),
            ratio(
                F.sum(F.col("v") * F.col("dt")).cast("double")
                / F.sum("dt")
            ).alias("twa_value"),
        )
        .filter(F.col("active_seconds") > 0)
    )


@register(
    "win_drawdown",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id,
                   epoch(date_trunc('second', ts)) AS s,
                   CASE WHEN event_type = 'error'
                        THEN -CAST(value AS DECIMAL(18,4))
                        ELSE  CAST(value AS DECIMAL(18,4)) END AS signed_v
            FROM events
        ), curve0 AS (
            SELECT user_id, s, event_id,
                   SUM(signed_v) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS UNBOUNDED PRECEDING) AS equity
            FROM e
        ), curve AS (
            SELECT user_id, equity,
                   MAX(equity) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS UNBOUNDED PRECEDING) AS peak
            FROM curve0
        )
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(ROUND(MAX(peak - equity), 2) AS DOUBLE)
                   AS max_drawdown,
               CAST(ROUND(MAX(CASE WHEN peak = equity THEN equity END), 2)
                    AS DOUBLE) AS high_water_mark
        FROM curve GROUP BY user_id
    """,
    section=SECTION,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over a signed value curve (errors
    subtract, everything else adds) — the "how far below its best did
    this account/SLO balance fall" metric, computed as running-max of
    the running sum minus the current sum: two COMPOSED frames over
    ONE user-partitioned ordering, so Catalyst evaluates both in a
    single WindowExec pass (one shuffle). Every accumulator is exact
    decimal — the drawdown maxima hash-match cross-engine with no
    float re-association — and rounding happens only at the output
    boundary. Session-sized partitions at any corpus scale."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.date_trunc("second", "ts").cast("long").alias("s"),
        F.when(
            F.col("event_type") == "error", -dec4("value")
        )
        .otherwise(dec4("value"))
        .alias("signed_v"),
    )
    ord_w = Window.partitionBy("user_id").orderBy("s", "event_id")
    run = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    equity = F.sum("signed_v").over(run)
    curve = ev.select(
        "user_id",
        equity.alias("equity"),
        F.max(equity).over(run).alias("peak"),
    )
    return curve.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.max(F.col("peak") - F.col("equity"))).alias("max_drawdown"),
        dround(
            F.max(F.when(F.col("peak") == F.col("equity"), F.col("equity")))
        ).alias("high_water_mark"),
    )


@register(
    "win_rolling_zscore",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ), win AS (
            SELECT event_type, day, y,
                   COUNT(*) OVER w AS n,
                   SUM(y) OVER w AS sx,
                   SUM(y * y) OVER w AS sxx
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, y,
               ROUND(sx * 1.0 / n, 6) AS mean7,
               ROUND((y - sx * 1.0 / n)
                     / sqrt((n * sxx - sx * sx) * 1.0 / (n * (n - 1))), 6)
                   AS zscore,
               ABS(y * n - sx) * ABS(y * n - sx) * (n - 1)
                   > 9 * (n * sxx - sx * sx) * n AS is_anomaly
        FROM win
        WHERE n = 7 AND n * sxx > sx * sx
    """,
    section=SECTION,
)
def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly score: each day's event volume against
    the mean/σ of the PREVIOUS 7 days (the current day never
    contaminates its own baseline — the leakage mistake naive rolling
    z-scores make). Counts are integers, so the window sums sx/sxx are
    exact; mean, sample-σ and z round once at the output, and the
    |z| > 3 flag is decided on cross-multiplied INTEGERS
    ((y·n − sx)²·(n−1) > 9·(n·sxx − sx²)·n) — no float boundary can
    flip it between engines. Days without a full 7-day baseline (or a
    zero-variance one) are excluded on both sides.

    Scale shape: one (type, day) partial-agg shuffle, then a
    calendar-bounded per-type window — frames hold ≤7 rows of state
    regardless of raw volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    win = daily.select(
        "event_type", "day", "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("y").over(w).alias("sx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("sxx"),
    )
    n, sx, sxx, y = F.col("n"), F.col("sx"), F.col("sxx"), F.col("y")
    var_num = n * sxx - sx * sx
    dev = y * n - sx
    return (
        win.filter((n == 7) & (var_num > 0))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "y",
            ratio(sx * F.lit(1.0) / n).alias("mean7"),
            ratio(
                (y - sx * F.lit(1.0) / n)
                / F.sqrt(var_num * F.lit(1.0) / (n * (n - 1)))
            ).alias("zscore"),
            (F.abs(dev) * F.abs(dev) * (n - 1) > 9 * var_num * n).alias(
                "is_anomaly"
            ),
        )
    )


@register(
    "win_rolling_regression",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, day, y,
                   date_diff('day',
                             MIN(day) OVER (PARTITION BY event_type),
                             day) AS x
            FROM daily
        ), win AS (
            SELECT event_type, day, x, y,
                   COUNT(*) OVER w AS n,
                   SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
                   SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx
            FROM idx
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, y,
               ROUND((n * sxy - sx * sy) * 1.0
                     / (n * sxx - sx * sx), 6) AS slope7,
               n * sxy > sx * sy AS rising
        FROM win
        WHERE n = 7
    """,
    section=SECTION,
)
def win_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS slope of daily volume per type — the local
    trend signal (log_forecast_linear is the same normal-equation fold
    over the WHOLE series; this is its windowed twin for "is it rising
    RIGHT NOW"). x is the day offset from the type's first day and y
    the integer count, so all four window sums are exact integers; the
    slope is one rounded divide and the rising flag compares
    cross-multiplied integers. Warm-up days (frame < 7 rows) are
    excluded on both sides.

    Scale shape: identical to win_rolling_zscore — one calendar-
    bounded shuffle, ≤7 rows of frame state; the x offset needs a
    per-type MIN which is a second pass over the ≤5×days daily
    relation, not over events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    wt = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type", "day", "y",
        F.datediff("day", F.min("day").over(wt)).alias("x"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    win = idx.select(
        "event_type", "day", "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx"])
    return (
        win.filter(n == 7)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "y",
            ratio((n * sxy - sx * sy) * F.lit(1.0) / (n * sxx - sx * sx)).alias(
                "slope7"
            ),
            (n * sxy > sx * sy).alias("rising"),
        )
    )


@register(
    "win_frame_rows_vs_range",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS es,
                   CAST(value AS DECIMAL(18,4)) AS v
            FROM events
        )
        SELECT event_id, user_id, es,
               CAST(ROUND(SUM(v) OVER (
                   PARTITION BY user_id ORDER BY es, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                   AS DOUBLE) AS rows_sum3,
               CAST(ROUND(SUM(v) OVER (
                   PARTITION BY user_id ORDER BY es
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
                   AS DOUBLE) AS range_sum30s,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY es
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_range
        FROM e
    """,
    section=SECTION,
)
def win_frame_rows_vs_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS vs RANGE frame semantics side by side — the window-frame
    distinction every SQL surface must get right: a ROWS frame counts
    physical rows (so ties on the ordering key need a unique tiebreak
    to be deterministic — ordered here by (es, event_id)), while a
    RANGE frame is value-based (all peers at the same timestamp enter
    together, and the 30-second lookback window stretches over however
    many rows fall inside it). On a log table with same-second bursts
    the two frames genuinely diverge, which this op exposes per event.

    Scale shape: both windows share the user_id partition key — ONE
    exchange, two in-partition sorts. Sums run in DECIMAL(18,4)
    (order-independent, exact) per the repo rounding discipline."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("es"),
        dec4("value").alias("v"),
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("es", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    w_range = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-30, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "es",
        dround(F.sum("v").over(w_rows)).alias("rows_sum3"),
        dround(F.sum("v").over(w_range)).alias("range_sum30s"),
        F.count(F.lit(1)).over(w_range).alias("n_range"),
    )


@register(
    "win_calendar_range_frame",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   SUM(CAST(value AS DECIMAL(18,4))) AS rev
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
               CAST(ROUND(SUM(rev) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN INTERVAL 1 MONTH PRECEDING
                             AND CURRENT ROW), 2) AS DOUBLE)
                   AS trailing_month_rev,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN INTERVAL 1 MONTH PRECEDING
                             AND CURRENT ROW) AS n_active_days
        FROM daily
    """,
    section=SECTION,
)
def win_calendar_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-interval RANGE frames — the window semantics numeric
    offsets can't express: "trailing one MONTH of revenue" where the
    frame's lower bound is real month arithmetic (variable length,
    end-of-month clamping), evaluated per row by the engine. The
    fixed-width cousins (win_moving_avg_range's 3600-second frame,
    win_frame_rows_vs_range's 30-second frame) pin numeric RANGE;
    this pins the interval-literal boundary form on a timestamp
    ordering both engines must age identically.

    Scale shape: events pre-aggregate to user-days (one shuffle,
    map-side combined), the interval window reuses the same user
    partition key — frames walk at most ~31 rows per user. Decimal
    revenue, rounded once at emission."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum(dec4("value")).alias("rev"))
    )
    daily.createOrReplaceTempView("v_cal_daily")
    return spark.sql(
        """
        SELECT user_id, date_format(day, 'yyyy-MM-dd') AS day,
               CAST(ROUND(SUM(rev) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN INTERVAL 1 MONTH PRECEDING
                             AND CURRENT ROW), 2) AS DOUBLE)
                   AS trailing_month_rev,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN INTERVAL 1 MONTH PRECEDING
                             AND CURRENT ROW) AS n_active_days
        FROM v_cal_daily
        """
    )
