"""§2.I — log-analytics composites.

The queries a log engine exists for: time histograms, error rates,
top talkers, gap sessionization, funnels, spike detection, pivots.
All compose §2.B–§2.E primitives; each shuffles at most on
(time bucket) or (user) — bounded-cardinality keys that scale.
Time is truncated to whole seconds/hours on BOTH engines before any
arithmetic (ns-vs-µs precision discipline, SURVEY.md §0.2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logdb_spark.functions.ranking import bounded_global_window
from logdb_spark.functions.numeric import dec4, dround, ratio
from logdb_spark.functions.temporal import (
    hour_order,
    hourly_series,
    sessions,
    ts_str,
    user_order,
)
from logdb_spark.registry import register, track_persist
from logdb_spark.sources.load import load_table
from logdb_spark.sources.scratch import scratch_dir

SECTION = "2.I log composites"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "log_time_histogram",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    """,
    section=SECTION,
)
def log_time_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per hour per type — the canonical log query. One shuffle
    on (hour, type): ~720 × 5 groups regardless of input size."""
    ev = load_table(spark, sf_dir, "events")
    return hourly_series(
        ev, [F.count(F.lit(1)).alias("n")], keys=("event_type",)
    ).select(ts_str("hh").alias("hour"), "event_type", "n")


@register(
    "log_error_rate",
    oracle="""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS n_total,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
               ROUND(COUNT(*) FILTER (WHERE event_type = 'error')
                     * 1.0 / COUNT(*), 6) AS error_rate
        FROM events GROUP BY 1
    """,
    section=SECTION,
)
def log_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors/total ratio per day — conditional agg, single pass."""
    ev = load_table(spark, sf_dir, "events")
    n_err = F.count(F.when(F.col("event_type") == "error", 1))
    n_tot = F.count(F.lit(1))
    return ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        n_tot.alias("n_total"),
        n_err.alias("n_errors"),
        ratio(n_err * F.lit(1.0) / n_tot).alias("error_rate"),
    )


@register(
    "log_top_talkers",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
               ROUND(COUNT(*) FILTER (WHERE event_type = 'error')
                     * 1.0 / COUNT(*), 6) AS error_share
        FROM events
        GROUP BY user_id
        ORDER BY n_events DESC, user_id
        LIMIT 10
    """,
    section=SECTION,
)
def log_top_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 noisiest users + their error share (agg then top-k heap)."""
    ev = load_table(spark, sf_dir, "events")
    n_err = F.count(F.when(F.col("event_type") == "error", 1))
    n_tot = F.count(F.lit(1))
    return (
        ev.groupBy("user_id")
        .agg(
            n_tot.alias("n_events"),
            n_err.alias("n_errors"),
            ratio(n_err * F.lit(1.0) / n_tot).alias("error_share"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(10)
    )


@register(
    "log_sessionize_gap",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, date_trunc('second', ts) AS ts
            FROM events
        ), flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, event_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(epoch(MAX(ts)) - epoch(MIN(ts)) AS BIGINT) AS duration_s
        FROM numbered
        GROUP BY user_id, session_id
    """,
    section=SECTION,
)
def log_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (gap > 30 min ⇒ new session): the
    ``sessions`` kernel's two windows — lag to flag boundaries, running
    sum to number sessions — then per-session aggregation. All three
    steps share the (user_id) partitioning: ONE shuffle total."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return sessions(ev).groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        ts_str(F.min("ts")).alias("session_start"),
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_s"),
    )


@register(
    "log_funnel",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(ts) FILTER (WHERE event_type = 'signup')   AS first_signup,
                   MIN(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
            FROM events GROUP BY user_id
        )
        SELECT COUNT(*) FILTER (WHERE first_signup IS NOT NULL) AS n_signed_up,
               COUNT(*) FILTER (WHERE first_signup IS NOT NULL
                                AND first_purchase > first_signup) AS n_converted,
               ROUND(COUNT(*) FILTER (WHERE first_signup IS NOT NULL
                                      AND first_purchase > first_signup) * 1.0
                     / COUNT(*) FILTER (WHERE first_signup IS NOT NULL), 6)
                   AS conversion_rate
        FROM per_user
    """,
    section=SECTION,
)
def log_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup -> purchase conversion funnel via per-user first-touch
    times (conditional MIN, no self-join)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    signed = F.count(F.when(F.col("first_signup").isNotNull(), 1))
    converted = F.count(
        F.when(
            F.col("first_signup").isNotNull()
            & (F.col("first_purchase") > F.col("first_signup")),
            1,
        )
    )
    return per_user.agg(
        signed.alias("n_signed_up"),
        converted.alias("n_converted"),
        ratio(converted * F.lit(1.0) / signed).alias("conversion_rate"),
    )


@register(
    "log_rate_spike",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                   COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors
            FROM events GROUP BY 1
        )
        SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
               n_errors,
               COALESCE(lag(n_errors) OVER (ORDER BY hour), 0) AS prev_errors,
               n_errors - COALESCE(lag(n_errors) OVER (ORDER BY hour), 0) AS delta
        FROM hourly
    """,
    section=SECTION,
)
def log_rate_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour error delta: bucketed agg first (collapses to
    ~720 rows), THEN the unpartitioned lag window — cheap because it
    runs on the aggregate, not the raw stream."""
    ev = load_table(spark, sf_dir, "events")
    hourly = hourly_series(
        ev, [F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors")]
    )
    prev = F.coalesce(F.lag("n_errors").over(hour_order()), F.lit(0))
    return hourly.select(
        ts_str("hh").alias("hour"),
        "n_errors",
        prev.alias("prev_errors"),
        (F.col("n_errors") - prev).alias("delta"),
    )


@register(
    "log_value_histogram",
    oracle="""
        SELECT event_type,
               CAST(FLOOR(value / 25) * 25 AS DOUBLE) AS bucket_lo,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS bucket_sum
        FROM events GROUP BY 1, 2
    """,
    section=SECTION,
)
def log_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric (metric-value) histogram: fixed-width buckets via
    floor arithmetic — the latency/size distribution query. Bucket
    count is value-range/width regardless of input size, so the
    shuffle is bounded like the time histogram."""
    from logdb_spark.functions.numeric import dec4, dround

    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.col("value") / 25) * 25).cast("double")
    return ev.groupBy("event_type", bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n"),
        dround(F.sum(dec4("value"))).alias("bucket_sum"),
    )


@register(
    "log_retention_prune",
    # The summary IS exact-checkable (VERDICT r2 #8): the oracle
    # recomputes the per-day counts + 7-day cutoff straight from the
    # events table — matching it proves the partitioned store
    # round-tripped every row into the right day partition.
    oracle="""
        WITH per_day AS (
            SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n
            FROM events GROUP BY 1
        ), cut AS (SELECT MAX(event_date) - 7 AS cutoff FROM per_day)
        SELECT COUNT(*) AS partitions_total,
               COUNT(*) FILTER (WHERE event_date > cutoff)
                   AS partitions_kept,
               CAST(COALESCE(SUM(n) FILTER (WHERE event_date > cutoff), 0)
                    AS BIGINT) AS rows_kept
        FROM per_day, cut
    """,
    section=SECTION,
)
def log_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL enforcement — the log-store delete path: write
    day-partitioned data, then report what a 7-day retention window
    keeps. ONE aggregate query (r1 ran three driver-side counts +
    createDataFrame): scan → partial count per event_date (map-side
    combine; one row per day survives) → global window over that tiny
    per-day frame for the cutoff → 1-row summary. The single-partition
    window is safe at any scale because its input is day-count-bounded,
    not data-bounded. At 100 TB the cutoff is a retention-config
    literal, so the serve-path filter prunes partitions at the file
    listing and the delete is a metadata-only partition drop (rows-only:
    filesystem facts)."""

    ev = load_table(spark, sf_dir, "events")
    store = scratch_dir("logdb_retention_")
    (
        ev.withColumn("event_date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(store)
    )
    back = spark.read.parquet(store)
    per_day = back.groupBy("event_date").agg(F.count(F.lit(1)).alias("n"))
    keep = F.col("event_date") > F.date_sub(
        F.max("event_date").over(Window.partitionBy()), 7
    )
    return (
        per_day.withColumn("kept", keep)
        .agg(
            F.count(F.lit(1)).alias("partitions_total"),
            F.count(F.when(F.col("kept"), 1)).alias("partitions_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kept"), F.col("n"))), F.lit(0)
            ).alias("rows_kept"),
        )
    )


@register(
    "log_pivot_types",
    oracle="""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
               COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
               COUNT(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events GROUP BY 1
    """,
    section=SECTION,
)
def log_pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """day × event_type count matrix. Pivot columns pinned to the known
    domain (SURVEY §7.3.4) — with an explicit value list Spark skips
    the extra distinct-values job AND the output schema is stable."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


@register(
    "log_anomaly_mad",
    oracle="""
        WITH h AS (
            SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), med AS (
            SELECT event_type, quantile_cont(n, 0.5) AS med
            FROM h GROUP BY 1
        ), dev AS (
            SELECT h.event_type, hr, n, med, ABS(n - med) AS dev
            FROM h JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type, quantile_cont(dev, 0.5) AS mad
            FROM dev GROUP BY 1
        )
        SELECT dev.event_type,
               strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour,
               n, med, mad.mad AS mad,
               ROUND(dev / mad.mad, 6) AS score
        FROM dev JOIN mad USING (event_type)
        WHERE mad.mad > 0 AND dev > 3.0 * mad.mad
    """,
    section=SECTION,
)
def log_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on hourly event-type counts: flag hours
    where |count − median| > 3×MAD (median absolute deviation — unlike
    mean/stddev, one outage hour can't drag its own threshold). The
    robust twin of log_rate_spike's lag-ratio heuristic.

    Exactness: counts are integers, exact medians land on .0/.5, so
    dev, MAD, and the 3×MAD comparison are bit-identical cross-engine;
    only the score ratio is rounded. Scale: two bounded-key aggregates
    (per event_type) + broadcast joins of the tiny stats tables — the
    hourly rollup is the only real shuffle, same as log_time_histogram.
    """
    ev = load_table(spark, sf_dir, "events")
    h = hourly_series(ev, [F.count(F.lit(1)).alias("n")], keys=("event_type",))
    med = h.groupBy("event_type").agg(
        F.percentile("n", F.lit(0.5)).alias("med")
    )
    dev = h.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.col("dev") > 3.0 * F.col("mad")))
        .select(
            "event_type",
            ts_str("hh").alias("hour"),
            "n",
            "med",
            "mad",
            ratio(F.col("dev") / F.col("mad")).alias("score"),
        )
    )


@register(
    "log_cooccurrence",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type, date_trunc('second', ts) AS ts, event_id
            FROM events
        ), seq AS (
            SELECT user_id, event_type AS next_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
            FROM e
        ), pairs AS (
            SELECT prev_type, next_type, COUNT(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        )
        SELECT prev_type, next_type, n,
               ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6)
                   AS p_next_given_prev
        FROM pairs
    """,
    section=SECTION,
)
def log_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: counts and conditional
    probabilities of consecutive (prev → next) event types per user
    stream — the Markov-chain view of user behavior (the statistical
    big sibling of log_funnel's fixed path). One (user) window pass +
    one bounded 5×5 aggregate; the normalizing window runs over ≤25
    rows. Integer counts ⇒ the conditional ratio divides exact
    integers — identical cross-engine before the ROUND."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("second", "ts").alias("ts"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        ratio(F.col("n") / F.sum("n").over(wp)).alias("p_next_given_prev"),
    )


@register(
    "log_dau_new_users",
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
            FROM events GROUP BY user_id
        ),
        daily AS (
            SELECT CAST(ts AS DATE) AS day, user_id
            FROM events GROUP BY 1, 2
        )
        SELECT strftime(d.day, '%Y-%m-%d') AS day,
               COUNT(*) AS active_users,
               COUNT(*) FILTER (WHERE f.first_day = d.day) AS new_users,
               COUNT(*) FILTER (WHERE f.first_day < d.day) AS returning_users
        FROM daily d JOIN firsts f ON f.user_id = d.user_id
        GROUP BY d.day
    """,
    section=SECTION,
)
def log_dau_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new vs returning — the cohort
    query every product log pipeline runs. Two bounded aggregations
    (distinct (day, user) and per-user first day) joined on user_id,
    then one conditional agg per day. At 100 TB each stage shuffles
    on user_id or day — both bounded, both partial-agg friendly; no
    distinct-count sketch needed because the (day, user) dedup IS the
    first groupBy."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.distinct()
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        daily.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.when(F.col("first_day") == F.col("day"), 1)).alias(
                "new_users"
            ),
            F.count(F.when(F.col("first_day") < F.col("day"), 1)).alias(
                "returning_users"
            ),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active_users",
            "new_users",
            "returning_users",
        )
    )


@register(
    "log_retention_cohorts",
    oracle="""
        WITH weekly AS (
            SELECT user_id, date_trunc('week', ts) AS week
            FROM events GROUP BY 1, 2
        ),
        cohorts AS (
            SELECT user_id, MIN(week) AS cohort_week
            FROM weekly GROUP BY user_id
        )
        SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
               CAST(date_diff('day', c.cohort_week, w.week) / 7 AS BIGINT)
                   AS weeks_since,
               COUNT(*) AS n_users
        FROM weekly w JOIN cohorts c ON c.user_id = w.user_id
        GROUP BY c.cohort_week, 2
    """,
    section=SECTION,
)
def log_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-seen week
    (cohort), counted in each later week they return — the table
    behind every retention curve. Both engines truncate weeks to
    Monday (date_trunc('week')), and weeks_since is exact integer
    day-difference arithmetic, never a float duration.

    Scale: (user, week) dedup and the per-user min are user-keyed
    shuffles with map-side combine; the final rollup groups on
    (cohort_week, weeks_since) — a few hundred keys regardless of
    input size."""
    weekly = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("week"))
        .distinct()
    )
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohorts, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (
                F.datediff(F.to_date("week"), F.to_date("cohort_week")) / 7
            )
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "log_unpivot_metrics",
    oracle="""
        WITH wide AS (
            SELECT CAST(ts AS DATE) AS day,
                   COUNT(*) FILTER (WHERE event_type = 'error')    AS errors,
                   COUNT(*) FILTER (WHERE event_type = 'click')    AS clicks,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases
            FROM events GROUP BY 1
        )
        SELECT strftime(day, '%Y-%m-%d') AS day, metric,
               CAST(n AS BIGINT) AS n
        FROM wide
        UNPIVOT (n FOR metric IN (errors, clicks, purchases))
    """,
    section=SECTION,
)
def log_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT — the inverse of log_pivot_types: a wide per-day metric
    table melts back to (day, metric, n) rows, the long form every
    metrics store and alerting rule engine consumes. Spark expresses
    it as ``stack()``; both the pivot and the melt are map-only over
    the already-aggregated (bounded) wide table, so the only shuffle
    is the day rollup that built it."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.when(F.col("event_type") == "error", 1)).alias("errors"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "purchases"
        ),
    )
    return wide.select(
        "day",
        F.expr(
            "stack(3, 'errors', errors, 'clicks', clicks, "
            "'purchases', purchases) AS (metric, n)"
        ),
    )


@register(
    "log_attribution_last_touch",
    oracle="""
        WITH marked AS (
            SELECT event_id, user_id, event_type, ts,
                   last_value(CASE WHEN event_type IN ('click', 'signup')
                                   THEN event_id END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS touch_id
            FROM events
        )
        SELECT event_id AS purchase_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
               touch_id
        FROM marked
        WHERE event_type = 'purchase'
    """,
    section=SECTION,
)
def log_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    most recent PRECEDING click or signup (NULL when nothing
    preceded) — the marketing-attribution query behind every
    conversion report. The interesting surface is
    ``last_value(..., ignoreNulls) OVER (... AND 1 PRECEDING)``: one
    user-partitioned window pass carries the latest touch forward
    without a self-join or an as-of join — at 100 TB that is one
    shuffle on user_id instead of an events×events join. The frame
    ends at 1 PRECEDING so a click and a purchase sharing a
    timestamp cannot self-attribute."""
    ev = load_table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("click", "signup"), F.col("event_id")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "touch_id", F.last(touch, ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            ts_str("ts").alias("purchase_time"),
            "touch_id",
        )
    )


@register(
    "log_slo_burn_rate",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                   CAST(floor(epoch(ts) / 21600) AS BIGINT) AS win6,
                   COUNT(*) AS n,
                   COUNT(*) FILTER (WHERE event_type = 'error') AS err
            FROM events GROUP BY 1, 2
        ),
        sixly AS (
            SELECT win6, SUM(n) AS n6, SUM(err) AS err6
            FROM hourly GROUP BY win6
        )
        SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour,
               ROUND(h.err * 1.0 / h.n, 6) AS rate_1h,
               ROUND(s.err6 * 1.0 / s.n6, 6) AS rate_6h,
               ROUND((h.err * 1.0 / h.n) / 0.20, 6) AS burn_1h,
               (h.err * 1.0 / h.n > 0.20 * 1.05
                AND s.err6 * 1.0 / s.n6 > 0.20 * 1.01) AS page
        FROM hourly h JOIN sixly s ON s.win6 = h.win6
    """,
    section=SECTION,
)
def log_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn rate — the SRE paging rule: page only
    when BOTH the fast window (1 h) and the slow window (6 h) burn
    above the error-budget line, so a brief blip (fast only) and a
    slowly-digesting old incident (slow only) both stay quiet. The
    6 h rates aggregate FROM the hourly partials (no second scan),
    and the windows align by integer epoch division of the hour (a
    6 h window is whole hours in UTC) — both engines compute identical
    bucket ids. Budget math stays in exact integer counts until the
    final rounded ratios; the 20% SLO line matches
    the fixture's ~20% error share so the flag actually exercises
    both branches."""
    hourly = hourly_series(
        load_table(spark, sf_dir, "events"),
        [
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("err"),
        ],
    ).withColumn(
        "win6", F.floor(F.col("hh").cast("long") / 21600).cast("bigint")
    )
    sixly = hourly.groupBy("win6").agg(
        F.sum("n").alias("n6"), F.sum("err").alias("err6")
    )
    r1 = F.col("err") * F.lit(1.0) / F.col("n")
    r6 = F.col("err6") * F.lit(1.0) / F.col("n6")
    return hourly.join(sixly, "win6").select(
        ts_str("hh").alias("hour"),
        ratio(r1).alias("rate_1h"),
        ratio(r6).alias("rate_6h"),
        ratio(r1 / F.lit(0.20)).alias("burn_1h"),
        ((r1 > 0.20 * 1.05) & (r6 > 0.20 * 1.01)).alias("page"),
    )


@register(
    "log_gap_fill",
    oracle="""
        WITH f AS (
            SELECT date_trunc('hour', ts) AS hh,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS rev,
                   COUNT(*) AS n
            FROM events
            WHERE event_type = 'purchase' AND value > 150
            GROUP BY 1
        ), g AS (
            SELECT UNNEST(generate_series((SELECT MIN(hh) FROM f),
                                          (SELECT MAX(hh) FROM f),
                                          INTERVAL 1 HOUR)) AS hh
        )
        SELECT strftime(g.hh, '%Y-%m-%d %H:%M:%S') AS hour,
               CAST(COALESCE(f.n, 0) AS BIGINT) AS n_events,
               (f.n IS NULL) AS is_gap,
               last_value(f.rev IGNORE NULLS)
                   OVER (ORDER BY g.hh
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS revenue_filled
        FROM g LEFT JOIN f ON g.hh = f.hh
    """,
    section=SECTION,
)
def log_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series regularization: hourly revenue of large
    purchases (value > 150 — rare enough that many hours are empty
    at every fixture SF), re-gridded onto EVERY hour between the
    first and last observation with forward-filled values — the
    prerequisite for any downstream rolling/forecast op, which
    assumes one row per tick.

    Scale shape: the heavy input collapses to ≤720 hourly rows in
    ONE shuffle with map-side partials; ``hourly_series(dense=True)``
    generates the grid from a 1-row min/max aggregate (no driver
    loop, no crossJoin); the forward-fill window orders ≤720
    post-aggregation rows — bounded by the time span, never by input
    size (the same bounded-global-window posture as log_rate_spike).
    At 100 TB nothing changes but the partial-agg fan-in. Revenue
    sums run in exact decimal (dec4/dround) so both engines fill
    identical values."""
    ev = load_table(spark, sf_dir, "events")
    dense = hourly_series(
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 150)),
        [dround(F.sum(dec4("value"))).alias("rev"), F.count(F.lit(1)).alias("n")],
        dense=True,
    )
    w = hour_order().rowsBetween(Window.unboundedPreceding, 0)
    return dense.select(
        ts_str(F.col("hh")).alias("hour"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
        F.last("rev", ignorenulls=True).over(w).alias("revenue_filled"),
    )


@register(
    "log_seasonal_baseline",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hh,
                   EXTRACT(HOUR FROM ts) AS hod,
                   COUNT(*) AS n
            FROM events WHERE event_type = 'error' GROUP BY 1, 2
        ), base AS (
            SELECT hod, AVG(n) AS expected FROM hourly GROUP BY hod
        )
        SELECT strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour,
               CAST(h.n AS BIGINT) AS n_errors,
               ROUND(b.expected, 6) AS expected,
               ROUND(h.n - b.expected, 6) AS residual,
               (h.n > 2 * b.expected) AS anomalous
        FROM hourly h JOIN base b ON h.hod = b.hod
    """,
    section=SECTION,
)
def log_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly baseline — the fix for the failure
    mode of flat thresholds (log_rate_spike, log_anomaly_mad): error
    traffic has a daily shape, and 3 AM's normal is not 3 PM's. Per
    hour-of-day expected counts (a 24-row profile) join back to each
    actual hour; the residual against the right seasonal slot drives
    the anomaly flag. Two bounded aggregations (≤720 hourly rows,
    24 profile rows) + one broadcast join of the profile — at 100 TB
    only the partial-agg fan-in grows. The profile join key (hod) is
    derived, so Catalyst broadcasts the 24-row side."""
    ev = load_table(spark, sf_dir, "events")
    hourly = hourly_series(
        ev.filter(F.col("event_type") == "error"), [F.count(F.lit(1)).alias("n")]
    ).withColumn("hod", F.hour("hh"))
    base = hourly.groupBy("hod").agg(F.avg("n").alias("expected"))
    return hourly.join(F.broadcast(base), "hod").select(
        ts_str(F.col("hh")).alias("hour"),
        F.col("n").cast("bigint").alias("n_errors"),
        ratio("expected").alias("expected"),
        ratio(F.col("n") - F.col("expected")).alias("residual"),
        (F.col("n") > 2 * F.col("expected")).alias("anomalous"),
    )


@register(
    "log_change_point",
    # Both engines fold the SAME hourly list in the SAME order; DuckDB
    # lacks an explicit-seed fold, so the oracle prepends the 0.0 seed
    # (list_reduce's first element is its accumulator seed).
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hh, COUNT(*) AS n
            FROM events WHERE event_type = 'error' GROUP BY 1
        ), mu AS (SELECT AVG(n) AS mu FROM hourly),
        framed AS (
            SELECT hh, n, mu.mu,
                   list(CAST(n AS DOUBLE)) OVER (
                       ORDER BY hh
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS lst
            FROM hourly, mu
        )
        SELECT strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour,
               CAST(n AS BIGINT) AS n_errors,
               ROUND(list_reduce(list_prepend(0.0, lst),
                     (acc, x) -> greatest(0.0, acc + x - 1.5 * mu)), 6)
                   AS cusum,
               (list_reduce(list_prepend(0.0, lst),
                     (acc, x) -> greatest(0.0, acc + x - 1.5 * mu))
                > 3 * mu) AS alarm
        FROM framed
    """,
    section=SECTION,
)
def log_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the hourly error series —
    the sequential statistic S_t = max(0, S_{t-1} + x_t − 1.5µ) that
    flags a sustained upward LEVEL SHIFT (spike detectors reset every
    hour; CUSUM accumulates small persistent excess until it crosses
    3µ). The recurrence is non-associative, so the scalable shape is
    the same as win_ewma: the series is first collapsed to
    calendar-bounded hourly rows, then each prefix is folded JVM-side
    (`aggregate` lambda over a growing collect_list frame — ≤720
    elements, O(720²) adds total, constant at any input size).
    Hours with zero errors are absent from the series (documented;
    compose with log_gap_fill for a strictly regular grid)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = hourly_series(
        ev.filter(F.col("event_type") == "error"), [F.count(F.lit(1)).alias("n")]
    )
    mu = hourly.agg(F.avg("n").alias("mu"))
    w = hour_order().rowsBetween(Window.unboundedPreceding, 0)
    framed = hourly.join(F.broadcast(mu)).withColumn(
        "lst", F.collect_list(F.col("n").cast("double")).over(w)
    )
    cusum = F.expr(
        "aggregate(lst, 0D, (acc, x) -> greatest(0D, acc + x - 1.5 * mu))"
    )
    return framed.select(
        ts_str(F.col("hh")).alias("hour"),
        F.col("n").cast("bigint").alias("n_errors"),
        ratio(cusum).alias("cusum"),
        (cusum > 3 * F.col("mu")).alias("alarm"),
    )


@register(
    "log_apdex_score",
    oracle="""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_requests,
               CAST(COUNT(*) FILTER (WHERE value <= 50) AS BIGINT)
                   AS n_satisfied,
               CAST(COUNT(*) FILTER (WHERE value > 50 AND value <= 200)
                    AS BIGINT) AS n_tolerating,
               ROUND((COUNT(*) FILTER (WHERE value <= 50)
                      + 0.5 * COUNT(*) FILTER (WHERE value > 50
                                               AND value <= 200))
                     / COUNT(*), 6) AS apdex
        FROM events WHERE event_type = 'view'
        GROUP BY 1
    """,
    section=SECTION,
)
def log_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex — the SRE satisfaction index: treating view-event values
    as latencies, score = (satisfied + tolerating/2) / total with
    T=50 (satisfied ≤ T, tolerating ≤ 4T). One conditional aggregate
    per day — a single bounded-key shuffle with map-side partials,
    the same shape as log_error_rate; the three counts are integers,
    so only the final ratio needs the ROUND-6 discipline."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    sat = F.count(F.when(F.col("value") <= 50, 1))
    tol = F.count(F.when((F.col("value") > 50) & (F.col("value") <= 200), 1))
    n = F.count(F.lit(1))
    return ev.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(
        n.alias("n_requests"),
        sat.alias("n_satisfied"),
        tol.alias("n_tolerating"),
        ratio((sat + 0.5 * tol) / n).alias("apdex"),
    )


_TAIL_KEEP_PCT_HEX = "1a"  # keep ~10% (26/256) of non-error traces


@register(
    "log_tail_sampling",
    oracle=f"""
        SELECT event_id, user_id, event_type,
               (event_type = 'error') AS kept_for_error
        FROM events
        WHERE event_type = 'error'
           OR substring(md5(CAST(event_id AS VARCHAR)), 1, 2)
              < '{_TAIL_KEEP_PCT_HEX}'
    """,
    section=SECTION,
)
def log_tail_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-based trace sampling — the observability-pipeline policy:
    keep EVERY error trace, plus a deterministic ~10% of ordinary
    traffic for baseline context. The sample key is the same
    md5-prefix device as the §2.K samplers (partitioning-stable, no
    engine randomness, and the 10% is a fixed subset — re-running
    never moves a kept trace). Map-only: one fused filter in the
    scan, no shuffle, no state; at 100 TB this is the ingest-side
    cost gate that decides what the store retains."""
    ev = load_table(spark, sf_dir, "events")
    key2 = F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
    return ev.filter(
        (F.col("event_type") == "error") | (key2 < _TAIL_KEEP_PCT_HEX)
    ).select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("event_type") == "error").alias("kept_for_error"),
    )


@register(
    "log_user_growth_curve",
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS day
            FROM events GROUP BY user_id
        ), daily AS (
            SELECT day, COUNT(*) AS new_users
            FROM first_day GROUP BY day
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(new_users AS BIGINT) AS new_users,
               CAST(SUM(new_users) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumulative_users
        FROM daily
    """,
    section=SECTION,
)
def log_user_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User growth curve — the cumulative-distinct arrival metric
    every product dashboard tracks: per day, how many users appeared
    for the FIRST time, and the running total of users ever seen.
    Computing cumulative distinct directly would need a growing state
    set; the scalable decomposition is min-day per user (one
    user-keyed shuffle with map-side partial min) → daily counts
    (calendar-bounded) → running sum over ≤31 rows (the bounded
    global window posture). Same first-occurrence trick as
    win_running_distinct, at corpus grain."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    daily = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = bounded_global_window(
        "day", max_rows=31, why="calendar day grid (<=31 rows)"
    ).rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "log_error_budget_burndown",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   COUNT(*) AS n_total,
                   COUNT(*) FILTER (WHERE event_type = 'error') AS n_err
            FROM events GROUP BY 1
        ), budget AS (
            SELECT CAST(floor(SUM(n_total) * 0.20) AS BIGINT) AS allowed
            FROM daily
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(n_err AS BIGINT) AS n_errors,
               CAST(SUM(n_err) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cumulative_errors,
               CAST(allowed AS BIGINT) AS budget,
               CAST(allowed - SUM(n_err) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS budget_remaining,
               (SUM(n_err) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                > allowed) AS exhausted
        FROM daily, budget
    """,
    section=SECTION,
)
def log_error_budget_burndown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-budget burn-DOWN — the monthly SRE ledger that
    complements the instantaneous burn RATE (log_slo_burn_rate): the
    period's budget is 20% of total requests (the fixture error rate
    makes that threshold bite mid-month), and each day reports
    cumulative errors against it until exhaustion. One calendar-
    bounded daily aggregate, a 1-row budget broadcast, and a ≤31-row
    running sum — the bounded-global-window posture throughout; at
    100 TB only the partial-agg fan-in grows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_err"),
    )
    budget = daily.agg(
        F.floor(F.sum("n_total") * 0.20).cast("bigint").alias("allowed")
    )
    w = bounded_global_window(
        "day", max_rows=31, why="calendar day grid (<=31 rows)"
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("n_err").over(w)
    return (
        daily.join(F.broadcast(budget))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_err").cast("bigint").alias("n_errors"),
            cum.cast("bigint").alias("cumulative_errors"),
            F.col("allowed").cast("bigint").alias("budget"),
            (F.col("allowed") - cum).cast("bigint").alias("budget_remaining"),
            (cum > F.col("allowed")).alias("exhausted"),
        )
    )


@register(
    "log_alert_suppress",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hh, COUNT(*) AS n
            FROM events WHERE event_type = 'error' GROUP BY 1
        ), spikes AS (
            SELECT hh, n FROM hourly
            WHERE n >= (SELECT 1.2 * AVG(n) FROM hourly)
        ), grp AS (
            SELECT hh, n,
                   hh - INTERVAL 1 HOUR * row_number()
                       OVER (ORDER BY hh) AS island
            FROM spikes
        )
        SELECT strftime(MIN(hh), '%Y-%m-%d %H:%M:%S') AS incident_start,
               strftime(MAX(hh), '%Y-%m-%d %H:%M:%S') AS incident_end,
               CAST(COUNT(*) AS INT) AS n_hours,
               CAST(MAX(n) AS BIGINT) AS peak_errors,
               CAST(SUM(n) AS BIGINT) AS total_errors
        FROM grp GROUP BY island
    """,
    section=SECTION,
)
def log_alert_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-storm suppression — page ONCE per incident, not once per
    spiking hour: consecutive spike hours collapse into a single
    incident row (start, end, duration, peak, total). The islands
    trick (hour minus rank = constant within a run) groups
    consecutive hours with ONE window + one aggregate over the ≤720
    post-aggregation spike rows — the same runs the recursive-CTE op
    walks iteratively, derived here the closed-form way; both shapes
    are pinned against each other by construction (same spikes
    relation, same 1.2×mean threshold). Calendar-bounded at any
    input size."""
    ev = load_table(spark, sf_dir, "events")
    hourly = hourly_series(
        ev.filter(F.col("event_type") == "error"), [F.count(F.lit(1)).alias("n")]
    )
    thr = hourly.agg((F.avg("n") * 1.2).alias("thr"))
    spikes = hourly.join(F.broadcast(thr)).filter(F.col("n") >= F.col("thr"))
    grp = spikes.withColumn(
        "island",
        F.col("hh") - F.make_interval(hours=F.row_number().over(hour_order())),
    )
    return grp.groupBy("island").agg(
        ts_str(F.min("hh")).alias("incident_start"),
        ts_str(F.max("hh")).alias("incident_end"),
        F.count(F.lit(1)).cast("int").alias("n_hours"),
        F.max("n").cast("bigint").alias("peak_errors"),
        F.sum("n").cast("bigint").alias("total_errors"),
    ).drop("island")


@register(
    "log_cohort_ltv",
    oracle="""
        WITH first_seen AS (
            SELECT user_id,
                   date_trunc('week', MIN(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ), purchases AS (
            SELECT e.user_id, f.cohort_week,
                   CAST(floor(date_diff('day', f.cohort_week, e.ts) / 7)
                        AS INT) AS weeks_since,
                   e.value
            FROM events e JOIN first_seen f USING (user_id)
            WHERE e.event_type = 'purchase'
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               weeks_since,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS revenue,
               CAST(ROUND(SUM(SUM(CAST(value AS DECIMAL(18,4)))) OVER (
                       PARTITION BY cohort_week ORDER BY weeks_since
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     2) AS DOUBLE) AS cumulative_ltv
        FROM purchases
        GROUP BY cohort_week, weeks_since
    """,
    section=SECTION,
)
def log_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle — the revenue companion to the
    retention triangle (log_retention_cohorts): users grouped by
    first-seen week, purchase revenue per (cohort, weeks-since), and
    the running LTV each cohort has accumulated. Three bounded
    stages: per-user first-seen min (one user-keyed shuffle), a
    (cohort×week) aggregate — ≤ 5×5 cells on a 30-day fixture,
    calendar² at any scale — and a running decimal sum over each
    cohort's ≤5 rows. Revenue stays in exact decimal through BOTH
    the cell aggregate and the cumulative window, so the running LTV
    is order-independent."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.col("ts").cast("date"),
                           F.col("cohort_week").cast("date")) / 7
            ).cast("int").alias("weeks_since"),
            "value",
        )
    )
    cells = purchases.groupBy("cohort_week", "weeks_since").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(dec4("value")).alias("rev_dec"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        "weeks_since",
        F.col("n_purchases").cast("bigint").alias("n_purchases"),
        dround(F.col("rev_dec")).alias("revenue"),
        dround(F.sum("rev_dec").over(w)).alias("cumulative_ltv"),
    )


@register(
    "log_latency_heatmap",
    oracle="""
        WITH b AS (
            SELECT CAST(date_part('hour', ts) AS INT) AS hour_of_day,
                   CAST(floor(ln(value) / ln(2)) AS INT) AS log2_bucket
            FROM events WHERE value > 0
        ), g AS (
            SELECT hour_of_day, log2_bucket, COUNT(*) AS n
            FROM b GROUP BY 1, 2
        )
        SELECT hour_of_day, log2_bucket, n,
               ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY hour_of_day), 6)
                   AS hour_share
        FROM g
    """,
    section=SECTION,
)
def log_latency_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × log2-value heatmap — the latency-distribution
    dashboard grid ("are the slow requests clustered at peak hours?").
    Bucket ids are pure map-side arithmetic (the same ln-ratio log2
    both engines fold identically — agg_histogram_logscale's
    discipline), so the shuffle carries ≤ 24×~64 cells regardless of
    input volume; the per-hour share is a window over those bounded
    cells, not over events. At 100 TB: one scan, one tiny-key
    shuffle, a 24-partition window."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    cells = ev.groupBy(
        F.hour("ts").cast("int").alias("hour_of_day"),
        F.floor(F.log("value") / F.log(F.lit(2.0)))
        .cast("int")
        .alias("log2_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("hour_of_day")
    return cells.select(
        "hour_of_day",
        "log2_bucket",
        "n",
        ratio(F.col("n") * F.lit(1.0) / F.sum("n").over(w)).alias(
            "hour_share"
        ),
    )


@register(
    "log_peak_concurrency",
    oracle="""
        WITH iv AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
                   user_id,
                   MIN(date_trunc('second', ts)) AS s,
                   MAX(date_trunc('second', ts)) AS e
            FROM events
            GROUP BY 1, 2
        ), bounds AS (
            SELECT event_date, s AS t, 1 AS delta FROM iv
            UNION ALL
            SELECT event_date, e + INTERVAL 1 SECOND, -1 FROM iv
        ), run AS (
            SELECT event_date,
                   SUM(delta) OVER (
                       PARTITION BY event_date
                       ORDER BY t, delta
                       ROWS UNBOUNDED PRECEDING) AS conc
            FROM bounds
        )
        SELECT r.event_date,
               CAST(MAX(conc) AS BIGINT) AS peak_concurrent,
               CAST(MAX(n_users) AS BIGINT) AS n_users
        FROM run r
        JOIN (SELECT event_date, COUNT(*) AS n_users FROM iv GROUP BY 1) u
          ON u.event_date = r.event_date
        GROUP BY r.event_date
    """,
    section=SECTION,
)
def log_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent users per day — the capacity-planning number: a
    user is "active" from their first to their last event of the day;
    peak = max of the +1/−1 boundary sweep. The classic interval
    problem expressed relationally: per-(day,user) intervals (one
    groupBy), boundary rows (union of +1 starts / −1 ends), a running
    sum ORDERED WITHIN EACH DAY (day-bounded window partitions — never
    a global sort), max per day. Tie discipline: at the same second a
    −1 sorts before a +1 (ORDER BY t, delta), i.e. an ending session
    closes before a starting one opens — both engines order
    identically. At 100 TB each day's boundary list is user-bounded,
    days parallelize across executors."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        F.to_date("ts").cast("string").alias("event_date"), "user_id"
    ).agg(
        F.min(F.date_trunc("second", "ts")).alias("s"),
        F.max(F.date_trunc("second", "ts")).alias("e"),
    )
    iv = track_persist(iv)  # feeds bounds twice + the per-day user count
    bounds = iv.select(
        "event_date", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            "event_date",
            (F.col("e") + F.expr("INTERVAL 1 SECOND")).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("event_date")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = bounds.select("event_date", F.sum("delta").over(w).alias("conc"))
    users = iv.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return (
        run.groupBy("event_date")
        .agg(F.max("conc").cast("bigint").alias("peak_concurrent"))
        .join(users, "event_date")
        .select(
            "event_date",
            "peak_concurrent",
            F.col("n_users").cast("bigint").alias("n_users"),
        )
    )


# Legal event-sequence transitions for log_state_machine: a funnel-ish
# protocol (signup opens a session; purchase must come from browsing;
# error is reachable from any active state but must restart at signup
# or click). Fixed, arbitrary, and identical in both engines.
_LEGAL_TRANSITIONS = (
    "signup>click", "signup>view",
    "click>click", "click>view", "click>purchase", "click>error",
    "view>click", "view>view", "view>purchase", "view>error",
    "purchase>click", "purchase>view",
    "error>signup", "error>click",
)


@register(
    "log_state_machine",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS curr_type,
               (prev_type || '>' || event_type) IN
                   {tuple(_LEGAL_TRANSITIONS)} AS is_legal,
               COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2, 3
    """,
    section=SECTION,
)
def log_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-protocol validation — per-user transition audit against a
    fixed legal-transition table ("can a purchase follow a signup
    directly?"): each user's stream is sequenced once (user-partitioned
    lag, deterministic (ts, event_id) tiebreak) and the (prev, curr)
    cells counted with a legality verdict — the report an on-call
    engineer reads to find protocol-violating clients. One
    user-bounded window + one 5×5-bounded-key shuffle; at 100 TB the
    window partitions by user (millions of small partitions, no
    global order) and the cell table stays constant-size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    legal = F.concat_ws(">", "prev_type", "event_type").isin(
        *_LEGAL_TRANSITIONS
    )
    return seq.groupBy(
        "prev_type",
        F.col("event_type").alias("curr_type"),
        legal.alias("is_legal"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))


@register(
    "log_template_mining",
    oracle="""
        WITH msgs AS (
            SELECT CASE event_type
                   WHEN 'click' THEN
                       'GET /item/' || CAST(event_id AS VARCHAR)
                       || ' took ' || CAST(CAST(floor(value * 10) AS BIGINT)
                                           AS VARCHAR) || 'ms'
                   WHEN 'error' THEN
                       'ERR connect timeout after '
                       || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)
                       || 'ms retry ' || CAST(event_id % 5 AS VARCHAR)
                   WHEN 'purchase' THEN
                       'order ' || CAST(event_id AS VARCHAR) || ' amount '
                       || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR)
                       || ' cents user ' || CAST(user_id AS VARCHAR)
                   WHEN 'signup' THEN
                       'new user ' || CAST(user_id AS VARCHAR)
                       || ' refcode ' || CAST(event_id % 1000 AS VARCHAR)
                   ELSE 'view page /p/' || CAST(event_id % 100 AS VARCHAR)
                        || ' session ' || CAST(user_id AS VARCHAR)
                   END AS msg
            FROM events
        )
        SELECT regexp_replace(msg, '[0-9]+', '<N>', 'g') AS template,
               COUNT(*) AS n_msgs,
               COUNT(DISTINCT msg) AS n_variants
        FROM msgs GROUP BY 1
    """,
    section=SECTION,
)
def log_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-template extraction — the Drain-style first step of log
    intelligence: free-text messages collapse to their constant
    skeleton (every digit run → <N>) and the engine counts volume and
    parameter diversity per template; five message shapes are
    synthesized in-query from event fields (the fixture carries no
    message text — same round-trip discipline as text_pii_scrub), and
    the mining must recover exactly those five templates at any
    scale. Map-only formatting + one regexp + a template-bounded
    shuffle: at 100 TB the groupBy key cardinality is the number of
    distinct templates, not messages."""
    ev = load_table(spark, sf_dir, "events")
    msg = (
        F.when(
            F.col("event_type") == "click",
            F.concat(
                F.lit("GET /item/"),
                F.col("event_id").cast("string"),
                F.lit(" took "),
                F.floor(F.col("value") * 10).cast("bigint").cast("string"),
                F.lit("ms"),
            ),
        )
        .when(
            F.col("event_type") == "error",
            F.concat(
                F.lit("ERR connect timeout after "),
                F.floor(F.col("value") * 100).cast("bigint").cast("string"),
                F.lit("ms retry "),
                (F.col("event_id") % 5).cast("string"),
            ),
        )
        .when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("order "),
                F.col("event_id").cast("string"),
                F.lit(" amount "),
                F.floor(F.col("value") * 100).cast("bigint").cast("string"),
                F.lit(" cents user "),
                F.col("user_id").cast("string"),
            ),
        )
        .when(
            F.col("event_type") == "signup",
            F.concat(
                F.lit("new user "),
                F.col("user_id").cast("string"),
                F.lit(" refcode "),
                (F.col("event_id") % 1000).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("view page /p/"),
                (F.col("event_id") % 100).cast("string"),
                F.lit(" session "),
                F.col("user_id").cast("string"),
            )
        )
    )
    return (
        ev.select(msg.alias("msg"))
        .groupBy(
            F.regexp_replace("msg", r"[0-9]+", "<N>").alias("template")
        )
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.countDistinct("msg").alias("n_variants"),
        )
    )


@register(
    "log_top_movers",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), delta AS (
            SELECT event_type, d, n,
                   n - lag(n) OVER (PARTITION BY event_type ORDER BY d)
                       AS delta
            FROM daily
        )
        SELECT event_type, d, n, CAST(delta AS BIGINT) AS delta
        FROM delta WHERE delta IS NOT NULL
        ORDER BY abs(delta) DESC, event_type, d
        LIMIT 15
    """,
    section=SECTION,
)
def log_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top day-over-day volume movers — the "what changed since
    yesterday" triage list: daily counts per type (bounded-cell agg),
    lag delta within each type's calendar (≤ #days rows per
    partition), then the 15 largest absolute swings via
    TakeOrderedAndProject — heap-k over the tiny delta relation,
    never a global sort. Everything after the first agg runs on
    #types × #days rows regardless of input volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("d")
    delta = daily.withColumn(
        "delta", F.col("n") - F.lag("n").over(w)
    ).filter(F.col("delta").isNotNull())
    return (
        delta.select(
            "event_type", "d", "n", F.col("delta").cast("bigint").alias("delta")
        )
        .orderBy(F.abs("delta").desc(), "event_type", "d")
        .limit(15)
    )


@register(
    "log_canary_compare",
    oracle="""
        WITH assigned AS (
            SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                             < '2'
                        THEN 'canary' ELSE 'control' END AS cohort,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
            FROM events
        ), g AS (
            SELECT cohort, COUNT(*) AS n, SUM(is_err) AS e
            FROM assigned GROUP BY cohort
        ), wide AS (
            SELECT MAX(CASE WHEN cohort = 'control' THEN n END) AS n_control,
                   MAX(CASE WHEN cohort = 'control' THEN e END) AS e_control,
                   MAX(CASE WHEN cohort = 'canary' THEN n END) AS n_canary,
                   MAX(CASE WHEN cohort = 'canary' THEN e END) AS e_canary
            FROM g
        )
        SELECT CAST(n_control AS BIGINT) AS n_control,
               CAST(n_canary AS BIGINT) AS n_canary,
               ROUND(e_control * 1.0 / n_control, 6) AS err_control,
               ROUND(e_canary * 1.0 / n_canary, 6) AS err_canary,
               ROUND((e_canary * 1.0 / n_canary - e_control * 1.0 / n_control)
                     / sqrt((e_control + e_canary) * 1.0
                            / (n_control + n_canary)
                            * (1 - (e_control + e_canary) * 1.0
                                   / (n_control + n_canary))
                            * (1.0 / n_control + 1.0 / n_canary)), 6)
                   AS z_score
        FROM wide
    """,
    section=SECTION,
)
def log_canary_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canary-vs-control release gate — the two-proportion z-test on
    error rates every progressive-delivery controller runs: users
    hash-split ~1/8 into the canary cohort (deterministic md5 prefix,
    the same keying the samplers use), per-cohort error counts in one
    bounded agg, then the pooled z-score as pure arithmetic on four
    integers — identical double expression both engines, rounded at
    the boundary. One scan, one 2-row shuffle; cohort assignment is
    map-only so the gate runs at any traffic volume."""
    ev = load_table(spark, sf_dir, "events")
    cohort = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "2",
        "canary",
    ).otherwise("control")
    g = ev.groupBy(cohort.alias("cohort")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("int")).alias("e"),
    )
    wide = g.agg(
        F.max(F.when(F.col("cohort") == "control", F.col("n"))).alias("n_control"),
        F.max(F.when(F.col("cohort") == "control", F.col("e"))).alias("e_control"),
        F.max(F.when(F.col("cohort") == "canary", F.col("n"))).alias("n_canary"),
        F.max(F.when(F.col("cohort") == "canary", F.col("e"))).alias("e_canary"),
    )
    p_c = F.col("e_control") * F.lit(1.0) / F.col("n_control")
    p_x = F.col("e_canary") * F.lit(1.0) / F.col("n_canary")
    pool = (F.col("e_control") + F.col("e_canary")) * F.lit(1.0) / (
        F.col("n_control") + F.col("n_canary")
    )
    z = (p_x - p_c) / F.sqrt(
        pool
        * (F.lit(1) - pool)
        * (F.lit(1.0) / F.col("n_control") + F.lit(1.0) / F.col("n_canary"))
    )
    return wide.select(
        F.col("n_control").cast("bigint").alias("n_control"),
        F.col("n_canary").cast("bigint").alias("n_canary"),
        ratio(p_c).alias("err_control"),
        ratio(p_x).alias("err_canary"),
        ratio(z).alias("z_score"),
    )


@register(
    "log_availability_calendar",
    oracle="""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
               event_type,
               COUNT(DISTINCT date_trunc('minute', ts)) AS minutes_seen,
               ROUND(COUNT(DISTINCT date_trunc('minute', ts)) / 1440.0, 6)
                   AS day_coverage
        FROM events
        GROUP BY 1, 2
    """,
    section=SECTION,
)
def log_availability_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat coverage calendar — "which minutes of which days did
    this signal actually report": distinct observed minutes per
    (day, type) over the 1440-minute day, the missing-data audit that
    gates every downstream rate computation (an error-rate over a
    silent hour is a lie). COUNT(DISTINCT minute) plans as a two-
    phase expand+agg on day-bounded keys; cells stay ≤ days × types
    regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    minutes = F.countDistinct(F.date_trunc("minute", "ts"))
    return ev.groupBy(
        F.to_date("ts").cast("string").alias("event_date"), "event_type"
    ).agg(
        minutes.alias("minutes_seen"),
        ratio(minutes / F.lit(1440.0)).alias("day_coverage"),
    )


@register(
    "log_adaptive_threshold",
    oracle="""
        WITH thr AS (
            SELECT event_type,
                   quantile_cont(value, 0.99) AS p99
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(CAST(e.ts AS DATE) AS VARCHAR) AS event_date,
               COUNT(*) FILTER (WHERE e.value > t.p99) AS n_breaches,
               COUNT(*) AS n_events,
               ROUND(MAX(t.p99), 6) AS threshold
        FROM events e JOIN thr t ON t.event_type = e.event_type
        GROUP BY 1, 2
    """,
    section=SECTION,
)
def log_adaptive_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-threshold alerting — the static-threshold killer: each
    signal's alert line is its own p99 (computed once per type,
    broadcast back — a 5-row dimension), and the report counts daily
    breaches against it. Composition shape: one bounded percentile
    agg, one broadcast join (never a shuffle of the fact side for a
    5-row threshold table), one (type, day)-bounded count. Exact
    interpolated percentile on both engines; the threshold is rounded
    only at the output boundary, breach comparison uses the raw
    double identically on both sides."""
    ev = load_table(spark, sf_dir, "events")
    thr = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.99)").alias("p99")
    )
    joined = ev.join(F.broadcast(thr), "event_type")
    return joined.groupBy(
        "event_type", F.to_date("ts").cast("string").alias("event_date")
    ).agg(
        F.count(F.when(F.col("value") > F.col("p99"), 1)).alias("n_breaches"),
        F.count(F.lit(1)).alias("n_events"),
        ratio(F.max("p99")).alias("threshold"),
    )


@register(
    "log_hourly_top_users",
    oracle="""
        WITH hourly AS (
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS hour,
                   user_id, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT hour, user_id, n, CAST(rn AS INT) AS rank
        FROM (
            SELECT hour, user_id, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY hour ORDER BY n DESC, user_id) AS rn
            FROM hourly
        ) WHERE rn <= 3
    """,
    section=SECTION,
)
def log_hourly_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 noisiest users per hour — the per-window leaderboard a
    NOC dashboard cycles through: hourly per-user counts (one
    bounded (hour, user) agg), then an hour-partitioned rank kept to
    k=3 with deterministic tiebreak. The window runs over each hour's
    ACTIVE users (already aggregated — not events), so partitions
    stay hour-sized and the output is 3 rows per hour forever."""
    ev = load_table(spark, sf_dir, "events")
    hourly = hourly_series(ev, [F.count(F.lit(1)).alias("n")], keys=("user_id",))
    w = Window.partitionBy("hh").orderBy(F.col("n").desc(), "user_id")
    return (
        hourly.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            ts_str("hh").alias("hour"),
            "user_id",
            "n",
            F.col("rank").cast("int").alias("rank"),
        )
    )


@register(
    "log_incident_mttr",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, event_type,
                   epoch(date_trunc('second', ts)) AS s
            FROM events
        ), marked AS (
            SELECT user_id, event_type, s,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
                   CASE WHEN event_type = 'error'
                        AND COALESCE(lag(event_type) OVER w, '') <> 'error'
                        THEN 1 ELSE 0 END AS starts_incident,
                   CASE WHEN event_type <> 'error'
                        AND COALESCE(lag(event_type) OVER w, '') = 'error'
                        THEN s - lag(s) OVER w END AS recovery_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
        )
        SELECT user_id,
               CAST(SUM(starts_incident) AS BIGINT) AS n_incidents,
               CAST(SUM(is_err) AS BIGINT) AS n_error_events,
               CAST(COUNT(recovery_s) AS BIGINT) AS n_recoveries,
               CAST(ROUND(AVG(recovery_s), 6) AS DOUBLE) AS mttr_s
        FROM marked
        GROUP BY user_id
        HAVING SUM(starts_incident) > 0
    """,
    section=SECTION,
)
def log_incident_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean time to recovery per user — the SRE number behind incident
    review: an incident opens when an error follows a non-error (run-
    boundary detection via the same user-partitioned lag the
    sessionizer uses), and recovery time is the gap from the LAST
    error of a run to the first healthy event after it. One
    user-bounded window feeds incident starts, error volume, and
    recovery gaps in a single pass — no self-joins, one shuffle.
    AVG over integer second gaps is exact until the final rounded
    division."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.date_trunc("second", "ts").cast("long").alias("s"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_type = F.coalesce(F.lag("event_type").over(w), F.lit(""))
    is_err = (F.col("event_type") == "error").cast("int")
    marked = ev.select(
        "user_id",
        is_err.alias("is_err"),
        (
            (F.col("event_type") == "error") & (prev_type != "error")
        )
        .cast("int")
        .alias("starts_incident"),
        F.when(
            (F.col("event_type") != "error") & (prev_type == "error"),
            F.col("s") - F.lag("s").over(w),
        ).alias("recovery_s"),
    )
    return (
        marked.groupBy("user_id")
        .agg(
            F.sum("starts_incident").cast("bigint").alias("n_incidents"),
            F.sum("is_err").cast("bigint").alias("n_error_events"),
            F.count("recovery_s").cast("bigint").alias("n_recoveries"),
            ratio(F.avg("recovery_s")).alias("mttr_s"),
        )
        .filter(F.col("n_incidents") > 0)
    )


@register(
    "log_weekday_profile",
    oracle="""
        SELECT CAST(dayofweek(ts) AS INT) AS dow,
               CAST(date_part('hour', ts) AS INT) AS hour_of_day,
               COUNT(*) AS n,
               ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS share
        FROM events GROUP BY 1, 2
    """,
    section=SECTION,
)
def log_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour traffic profile — the seasonality fingerprint
    capacity planning and anomaly baselines are normalized against
    (Monday 9am is not Sunday 3am). Bucket keys are map-side calendar
    arithmetic; the grid is ≤ 7×24 cells forever, and the share
    window runs over those cells, not events. DuckDB dayofweek
    (0=Sunday) equals Spark's dayofweek−1; the expression pins the
    same numbering on both engines."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    return cells.select(
        "dow",
        "hour_of_day",
        "n",
        ratio(F.col("n") * F.lit(1.0) / F.sum("n").over(w)).alias("share"),
    )


@register(
    "log_cusum_drift",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
            FROM events GROUP BY 1, 2
        ), pref AS (
            SELECT event_type, day, x,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_days,
                   SUM(x) OVER (PARTITION BY event_type) AS total,
                   SUM(x) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS cum_x,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day) AS d_idx
            FROM daily
        ), scaled AS (
            SELECT event_type, day, x, n_days, total,
                   n_days * cum_x - d_idx * total AS p
            FROM pref
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x AS n_events,
               ROUND((p - LEAST(0, MIN(p) OVER (
                          PARTITION BY event_type ORDER BY day
                          ROWS UNBOUNDED PRECEDING)))
                     * 1.0 / n_days, 6) AS cusum,
               (p - LEAST(0, MIN(p) OVER (
                        PARTITION BY event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING)))
                   > 2 * total AS drift
        FROM scaled
    """,
    section=SECTION,
)
def log_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detector over daily event counts per type — the
    change-detection chart that accumulates small sustained deviations
    a fixed threshold misses (log_change_point finds one split;
    CUSUM flags WHEN sustained drift starts).

    The textbook recursion s_d = max(0, s_{d-1} + x_d - k) is not a
    window function, but its closed form is: s_d = prefix_d - min(0,
    min_{j<=d} prefix_j) with prefix = running sum of (x - k). So two
    stacked windows (running sum, then running min over it) compute
    the whole chart — no recursion, no UDF, one shuffle on event_type
    shared by every window here.

    Cross-engine exactness: k = total/n_days is fractional, so the
    whole chart is scaled by n_days to stay in BIGINT (p = n_days *
    cum_x - d_idx * total); doubles appear only in the final ROUND.
    The drift flag s > 2k compares scaled integers: p_adj > 2 *
    total. Partitions are event types; each holds calendar-bounded
    rows (days), so the per-type window never concentrates more than
    ~365 rows per year regardless of event volume at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    wp = Window.partitionBy("event_type")
    wo = wp.orderBy("day")
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pref = daily.select(
        "event_type",
        "day",
        "x",
        F.count(F.lit(1)).over(wp).alias("n_days"),
        F.sum("x").over(wp).alias("total"),
        F.sum("x").over(run).alias("cum_x"),
        F.row_number().over(wo).alias("d_idx"),
    )
    scaled = pref.withColumn(
        "p", F.col("n_days") * F.col("cum_x") - F.col("d_idx") * F.col("total")
    )
    s_int = F.col("p") - F.least(F.lit(0), F.min("p").over(run))
    return scaled.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").alias("n_events"),
        ratio(s_int * F.lit(1.0) / F.col("n_days")).alias("cusum"),
        (s_int > 2 * F.col("total")).alias("drift"),
    )


@register(
    "log_flap_detect",
    oracle="""
        WITH hourly AS (
            SELECT CAST(ts AS DATE) AS day, date_trunc('hour', ts) AS hour,
                   COUNT(*) AS n,
                   COUNT(*) FILTER (WHERE event_type = 'error') AS err
            FROM events GROUP BY 1, 2
        ), states AS (
            SELECT day, hour, (4 * err >= n) AS hot,
                   lag((4 * err >= n)) OVER (
                       PARTITION BY day ORDER BY hour) AS prev_hot
            FROM hourly
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               COUNT(*) AS n_hours,
               COUNT(*) FILTER (WHERE prev_hot IS NOT NULL
                                AND hot <> prev_hot) AS n_transitions,
               COUNT(*) FILTER (WHERE prev_hot IS NOT NULL
                                AND hot <> prev_hot) >= 4 AS flapping
        FROM states GROUP BY day
    """,
    section=SECTION,
)
def log_flap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert-flap detection: an hourly error-rate alert that toggles
    on/off >= 4 times in a day is flapping — paging noise, not signal
    (log_alert_suppress dedups repeats of ONE firing; this finds
    thresholds that oscillate). State compares integers (4*err >= n,
    i.e. rate >= 0.25) so no float enters the chart; lag is
    day-partitioned over <= 24 hourly rows, so the state machine
    shuffles on calendar keys only."""
    ev = load_table(spark, sf_dir, "events")
    hourly = hourly_series(
        ev,
        [
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("err"),
        ],
    ).withColumn("day", F.to_date("hh"))
    w = Window.partitionBy("day").orderBy("hh")
    states = hourly.select(
        "day",
        (4 * F.col("err") >= F.col("n")).alias("hot"),
        F.lag(4 * F.col("err") >= F.col("n")).over(w).alias("prev_hot"),
    )
    is_flip = F.col("prev_hot").isNotNull() & (
        F.col("hot") != F.col("prev_hot")
    )
    return states.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.count(F.when(is_flip, 1)).alias("n_transitions"),
        (F.count(F.when(is_flip, 1)) >= 4).alias("flapping"),
    )


@register(
    "log_backfill_detect",
    oracle="""
        WITH ordered AS (
            SELECT CAST(ts AS DATE) AS day,
                   ts < MAX(ts) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS is_late
            FROM events
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               COUNT(*) AS n_events,
               COUNT(*) FILTER (WHERE is_late) AS n_out_of_order,
               ROUND(COUNT(*) FILTER (WHERE is_late) * 1.0 / COUNT(*), 6)
                   AS late_share
        FROM ordered GROUP BY day
    """,
    section=SECTION,
)
def log_backfill_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingestion audit: an event is late if its event
    time precedes the running max event time of the SAME user's
    earlier-ingested rows (event_id = ingestion order). High daily
    shares mean backfills or clock skew — the number that decides
    streaming watermark widths (stream_late_data consumes such a
    bound; this measures it). The running max partitions by user, so
    at 100 TB the window state is per-user and the single shuffle key
    is user_id; the ts comparison stays inside each engine, never
    across (ns-vs-us discipline)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = ev.select(
        F.to_date("ts").alias("day"),
        (F.col("ts") < F.max("ts").over(w)).alias("is_late"),
    )
    return ordered.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("is_late"), 1)).alias("n_out_of_order"),
        ratio(
            F.count(F.when(F.col("is_late"), 1)) * F.lit(1.0)
            / F.count(F.lit(1))
        ).alias("late_share"),
    )


@register(
    "log_rolling_wau",
    oracle="""
        WITH user_days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), contrib AS (
            SELECT DISTINCT user_id, day + CAST(i AS INT) AS wday
            FROM user_days, unnest(range(0, 7)) AS t(i)
        ), wau AS (
            SELECT wday, COUNT(*) AS wau7 FROM contrib GROUP BY wday
        ), dau AS (
            SELECT day, COUNT(*) AS dau FROM user_days GROUP BY day
        )
        SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau7,
               ROUND(d.dau * 1.0 / w.wau7, 6) AS stickiness
        FROM dau d JOIN wau w ON w.wday = d.day
    """,
    section=SECTION,
)
def log_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) next to DAU, plus the
    DAU/WAU stickiness ratio — the growth metric log_dau_new_users
    does not cover (distinct-over-sliding-window is NOT a sum of daily
    distincts: a user active twice in a week counts once).

    Scale shape: sliding-window COUNT DISTINCT is done by exploding
    each distinct (user, day) into the <= 7 window-end days it covers
    and re-distincting — a bounded 7x fan-out of user-days, all
    equi-shuffles, instead of the 7-way range self-join that
    re-scans events per window or a global sliding-state window.
    Early days report partial (shorter) windows, as live dashboards
    do."""
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    contrib = (
        user_days.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(6))
            ).alias("i"),
            "day",
        )
        .select("user_id", F.expr("date_add(day, i)").alias("wday"))
        .distinct()
    )
    wau = contrib.groupBy("wday").agg(F.count(F.lit(1)).alias("wau7"))
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau.day == wau.wday)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau7",
            ratio(F.col("dau") * F.lit(1.0) / F.col("wau7")).alias(
                "stickiness"
            ),
        )
    )


@register(
    "log_p99_trend",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(ROUND(quantile_cont(value, 0.99), 6)
                        AS DECIMAL(18,6)) AS p99
            FROM events GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, p99,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day) AS x
            FROM daily
        ), sums AS (
            SELECT event_type, COUNT(*) AS n, SUM(x) AS sx,
                   SUM(x * x) AS sxx, SUM(p99) AS sy, SUM(x * p99) AS sxy
            FROM idx GROUP BY event_type
        )
        SELECT event_type, n AS n_days,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
               CASE WHEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                               / CAST(n * sxx - sx * sx AS DOUBLE), 6)
                         > 0.05 THEN 'degrading'
                    WHEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                               / CAST(n * sxx - sx * sx AS DOUBLE), 6)
                         < -0.05 THEN 'improving'
                    ELSE 'stable' END AS trend
        FROM sums GROUP BY event_type, n, sx, sxx, sy, sxy
    """,
    section=SECTION,
)
def log_p99_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is tail latency degrading? Per-type daily exact p99, then the
    least-squares slope of p99 against day index — the one-number
    answer behind 'the p99 got worse this month' (log_top_movers ranks
    a single day-over-day change; this fits the month).

    regr_slope on raw doubles is partial-aggregation-order dependent
    in the last ulps, so the slope is assembled from EXACT sums
    instead: day index x is an integer, p99 is rounded to 6 dp and
    cast DECIMAL(18,6) on both engines, making sx, sxx, sy, sxy exact
    and order-independent; doubles appear only in the final division.
    Two shuffles, both on event_type; per-type rows are
    calendar-bounded."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        ratio(F.expr("percentile(value, 0.99)"))
        .cast("decimal(18,6)")
        .alias("p99")
    )
    idx = daily.select(
        "event_type",
        "p99",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("x"),
    )
    sums = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("p99").alias("sy"),
        F.sum(F.col("x") * F.col("p99")).alias("sxy"),
    )
    slope = ratio(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        F.when(slope > 0.05, "degrading")
        .when(slope < -0.05, "improving")
        .otherwise("stable")
        .alias("trend"),
    )


@register(
    "log_correlation_matrix",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS n,
                   SUM(a.x) AS sx, SUM(b.x) AS sy,
                   SUM(a.x * a.x) AS sxx, SUM(b.x * b.x) AS syy,
                   SUM(a.x * b.x) AS sxy
            FROM daily a JOIN daily b
              ON a.day = b.day AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b, n AS n_days,
               ROUND((n * sxy - sx * sy) /
                     sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS corr
        FROM pairs
    """,
    section=SECTION,
)
def log_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series correlation matrix: Pearson correlation between the
    daily count series of every event-type pair — 'do errors move with
    purchases?', the first question of incident forensics
    (agg_corr_regression correlates two columns of one row stream;
    this correlates whole TIME SERIES against each other). Assembled
    from exact integer sums over the day-joined series (counts are
    ints, so every sum is exact and order-independent; doubles only in
    the final normalized division) — the same discipline as
    log_p99_trend. The series relation is (types x days) — calendar-
    bounded — so the pair self-join is over a tiny aggregate, never
    over events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    a = daily.select(
        F.col("event_type").alias("type_a"),
        F.col("day").alias("day_a"),
        F.col("x").alias("xa"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        F.col("day").alias("day_b"),
        F.col("x").alias("xb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("day_a") == F.col("day_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.col("n").alias("n_days"),
        ratio(num / den).alias("corr"),
    )


@register(
    "log_bounce_rate",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, date_trunc('second', ts) AS ts
            FROM events
        ), flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        ), sessions AS (
            SELECT user_id, session_id,
                   CAST(MIN(ts) AS DATE) AS day,
                   COUNT(*) AS n_events,
                   epoch(MAX(ts)) - epoch(MIN(ts)) AS dur_s
            FROM numbered GROUP BY user_id, session_id
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               COUNT(*) AS n_sessions,
               COUNT(*) FILTER (WHERE n_events = 1) AS n_bounces,
               ROUND(COUNT(*) FILTER (WHERE n_events = 1) * 1.0
                     / COUNT(*), 6) AS bounce_rate,
               ROUND(SUM(dur_s) * 1.0 / COUNT(*), 6) AS avg_duration_s
        FROM sessions GROUP BY day
    """,
    section=SECTION,
)
def log_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of sessions (the ``sessions``
    kernel's 30-min-gap sessions, as in log_sessionize_gap) that
    contain exactly ONE event — the engagement-quality number next to
    the raw session counts, plus the mean session duration. Sessions
    aggregate per (user, session) first — one user_id shuffle shared
    with the sessionizing windows — then roll up to ≤31 day rows;
    durations are integer epoch seconds, so the averages are exact
    ratios of integers rounded once."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    per_session = sessions(ev).groupBy("user_id", "session_id").agg(
        F.to_date(F.min("ts")).alias("day"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("dur_s"),
    )
    n_b = F.count(F.when(F.col("n_events") == 1, 1))
    n_s = F.count(F.lit(1))
    return per_session.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        n_s.alias("n_sessions"),
        n_b.alias("n_bounces"),
        ratio(n_b * F.lit(1.0) / n_s).alias("bounce_rate"),
        ratio(F.sum("dur_s") * F.lit(1.0) / n_s).alias("avg_duration_s"),
    )


@register(
    "log_burstiness_fano",
    oracle="""
        WITH counts AS (
            SELECT event_type, date_trunc('hour', ts) AS hh, COUNT(*) AS x
            FROM events GROUP BY 1, 2
        ), grid AS (
            SELECT t.event_type, g.hh
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (
                SELECT UNNEST(generate_series(
                    (SELECT date_trunc('hour', MIN(ts)) FROM events),
                    (SELECT date_trunc('hour', MAX(ts)) FROM events),
                    INTERVAL 1 HOUR)) AS hh
            ) g
        ), full_grid AS (
            SELECT grid.event_type, grid.hh, COALESCE(counts.x, 0) AS x
            FROM grid LEFT JOIN counts
              ON counts.event_type = grid.event_type AND counts.hh = grid.hh
        ), sums AS (
            SELECT event_type, COUNT(*) AS n, SUM(x) AS sx,
                   SUM(x * x) AS sxx
            FROM full_grid GROUP BY event_type
        )
        SELECT event_type, n AS n_hours,
               ROUND(sx * 1.0 / n, 6) AS mean_per_hour,
               ROUND((n * sxx - sx * sx) * 1.0 / (n * sx), 6) AS fano,
               2 * (n * sxx - sx * sx) > 3 * n * sx AS bursty
        FROM sums
    """,
    section=SECTION,
)
def log_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness via the Fano factor — hourly-count variance
    over mean per type, on the ZERO-FILLED hour grid (empty hours are
    real observations of zero; computing dispersion over only the
    occupied hours biases it down, the mistake this op exists to
    avoid). Fano = 1 is Poisson; the bursty flag (Fano > 1.5)
    compares scaled integers, and the factor itself is
    (n·Σx² − (Σx)²)/(n·Σx) — all integer until the final round, the
    log_p99_trend discipline. ``hourly_series(dense=True)`` builds the
    grid (the min/max hour × the 5-type relation, log_gap_fill's
    grid with keys); every relation after the first hourly shuffle is
    calendar-bounded."""
    ev = load_table(spark, sf_dir, "events")
    full_grid = hourly_series(
        ev, [F.count(F.lit(1)).alias("x")], keys=("event_type",), dense=True
    ).select("event_type", F.coalesce("x", F.lit(0)).alias("x"))
    sums = full_grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    disp = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "event_type",
        F.col("n").alias("n_hours"),
        ratio(F.col("sx") * F.lit(1.0) / F.col("n")).alias("mean_per_hour"),
        ratio(disp * F.lit(1.0) / (F.col("n") * F.col("sx"))).alias("fano"),
        (2 * disp > 3 * F.col("n") * F.col("sx")).alias("bursty"),
    )


@register(
    "log_markov_transitions",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY date_trunc('second', ts), event_id
                   ) AS prev_type,
                   date_trunc('second', ts) AS ts_s,
                   LAG(date_trunc('second', ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY date_trunc('second', ts), event_id
                   ) AS prev_ts
            FROM events
        ), trans AS (
            SELECT prev_type AS from_type, event_type AS to_type,
                   COUNT(*) AS n
            FROM seq
            WHERE prev_type IS NOT NULL
              AND epoch(ts_s) - epoch(prev_ts) <= 1800
            GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6)
                   AS p_next
        FROM trans
    """,
    section=SECTION,
)
def log_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: for each
    user's event stream (session-bounded by the ``sessions`` kernel: a
    step counts only inside a session, ``new_session = 0`` — a
    transition across a session break is not behaviour), count from→to
    steps and normalise per source state.

    Scale shape: ONE user_id shuffle for the lag window (same key the
    sessionizers use), then a groupBy on the 5×5-bounded type-pair
    domain — the second shuffle moves at most |types|² rows per
    partition after partial aggregation. The per-from normalisation
    runs as a window over the ≤25-row result; trivially bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    steps = sessions(ev).select(
        F.lag("event_type").over(user_order()).alias("from_type"),
        F.col("event_type").alias("to_type"),
        "new_session",
    ).filter(F.col("from_type").isNotNull() & (F.col("new_session") == 0))
    trans = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("from_type")
    return trans.select(
        "from_type", "to_type", "n",
        ratio(F.col("n") * F.lit(1.0) / F.sum("n").over(wt)).alias("p_next"),
    )


@register(
    "log_outlier_iqr",
    oracle="""
        WITH fences AS (
            SELECT event_type,
                   percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS q1,
                   percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS q3
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               COUNT(*) AS n,
               COUNT(*) FILTER (
                   WHERE e.value < f.q1 - 1.5 * (f.q3 - f.q1)
                      OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)) AS n_outliers,
               ROUND(COUNT(*) FILTER (
                   WHERE e.value < f.q1 - 1.5 * (f.q3 - f.q1)
                      OR e.value > f.q3 + 1.5 * (f.q3 - f.q1)) * 1.0
                     / COUNT(*), 6) AS outlier_share,
               ROUND(f.q1, 6) AS q1, ROUND(f.q3, 6) AS q3
        FROM events e JOIN fences f USING (event_type)
        GROUP BY e.event_type, f.q1, f.q3
    """,
    section=SECTION,
)
def log_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier rate per event type: exact interpolated
    quartiles (Spark `percentile` ≡ DuckDB percentile_cont, the
    agg_percentile_exact equivalence), 1.5·IQR fences, then a second
    pass counting points outside them.

    Scale shape: pass 1 is a 5-group exact percentile (per-type sorted
    merge — bounded by the 5-type domain, not data volume); the ≤5-row
    fence table broadcasts into pass 2, which is a plain partial-agg
    count — no row ever shuffles on anything wider than event_type."""
    ev = load_table(spark, sf_dir, "events")
    fences = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (
        F.col("value") < F.col("q1") - 1.5 * iqr
    ) | (F.col("value") > F.col("q3") + 1.5 * iqr)
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(out).alias("n_outliers"),
            ratio(F.count_if(out) * F.lit(1.0) / F.count(F.lit(1))).alias(
                "outlier_share"
            ),
        )
        .select(
            "event_type", "n", "n_outliers", "outlier_share",
            ratio("q1").alias("q1"), ratio("q3").alias("q3"),
        )
    )


@register(
    "log_forecast_linear",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ), offs AS (
            SELECT event_type,
                   date_diff('day',
                             MIN(day) OVER (PARTITION BY event_type),
                             day) AS x,
                   y
            FROM daily
        ), idx AS (
            SELECT event_type, x, y,
                   MAX(x) OVER (PARTITION BY event_type) AS xmax
            FROM offs
        ), sums AS (
            SELECT event_type, MAX(xmax) AS xmax, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM idx GROUP BY event_type
        )
        SELECT event_type, n AS n_days,
               ROUND((n * sxy - sx * sy) * 1.0
                     / (n * sxx - sx * sx), 6) AS slope,
               ROUND((sy * sxx - sx * sxy) * 1.0
                     / (n * sxx - sx * sx), 6) AS intercept,
               ROUND(((sy * sxx - sx * sxy)
                      + (xmax + 1) * (n * sxy - sx * sy)) * 1.0
                     / (n * sxx - sx * sx), 6) AS forecast_next_day
        FROM sums
    """,
    section=SECTION,
)
def log_forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-volume trend: ordinary least squares of count vs
    day index, plus the one-day-ahead forecast. Both x (day offset from
    the type's first day) and y (counts) are integers, so every sum in
    the normal equations is exact; the three outputs are single
    integer-ratio divides rounded once — bit-identical cross-engine,
    the log_p99_trend discipline (floating regr_slope would not be).

    Scale shape: daily counts = one (type, day) partial-agg shuffle on
    a calendar-bounded key; the regression sums collapse those ≤5×days
    rows per type. Nothing downstream of the first aggregate scales
    with raw row count."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    wt = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.min("day").over(wt)).alias("x"),
        "y",
    ).withColumn("xmax", F.max("x").over(wt))
    sums = idx.groupBy("event_type").agg(
        F.max("xmax").alias("xmax"),
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    icept_num = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        ratio(slope_num * F.lit(1.0) / det).alias("slope"),
        ratio(icept_num * F.lit(1.0) / det).alias("intercept"),
        ratio(
            (icept_num + (F.col("xmax") + 1) * slope_num) * F.lit(1.0) / det
        ).alias("forecast_next_day"),
    )


@register(
    "log_rate_limit_flag",
    oracle="""
        WITH numbered AS (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('minute', ts)
                       ORDER BY date_trunc('second', ts), event_id
                   ) AS k
            FROM events
        )
        SELECT COUNT(*) AS n_events,
               COUNT(*) FILTER (WHERE k > 5) AS n_throttled,
               COUNT(DISTINCT CASE WHEN k > 5 THEN user_id END)
                   AS n_throttled_users,
               ROUND(COUNT(*) FILTER (WHERE k > 5) * 1.0 / COUNT(*), 6)
                   AS throttled_share
        FROM numbered
    """,
    section=SECTION,
)
def log_rate_limit_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user-per-minute rate limiting (limit 5): every event beyond
    the 5th a user emits inside one wall-clock minute is flagged, then
    the audit rolls up flagged volume and affected users. This is the
    batch twin of an ingest-side throttle — the flag rule is a plain
    ROW_NUMBER over (user, minute), deterministic tiebreak on
    (second-truncated ts, event_id).

    Scale shape: one shuffle on the (user_id, minute) composite — far
    finer than user_id alone, so hot users spread across partitions by
    time (built-in skew dilution); per-key window state is the ≤minute
    event run, never a whole user history. Final rollup is a partial
    agg to one row."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.date_trunc("second", "ts").alias("ts_s"),
        F.date_trunc("minute", "ts").alias("ts_m"),
    )
    w = Window.partitionBy("user_id", "ts_m").orderBy("ts_s", "event_id")
    numbered = ev.withColumn("k", F.row_number().over(w))
    throttled = F.col("k") > 5
    return numbered.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(throttled).alias("n_throttled"),
        F.count_distinct(
            F.when(throttled, F.col("user_id"))
        ).alias("n_throttled_users"),
        ratio(
            F.count_if(throttled) * F.lit(1.0) / F.count(F.lit(1))
        ).alias("throttled_share"),
    )


@register(
    "log_conversion_latency",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   MIN(date_trunc('second', ts))
                       FILTER (WHERE event_type = 'signup') AS first_signup,
                   MIN(date_trunc('second', ts))
                       FILTER (WHERE event_type = 'purchase') AS first_purchase
            FROM events GROUP BY user_id
        ), conv AS (
            SELECT epoch(first_purchase) - epoch(first_signup) AS delay_s
            FROM per_user
            WHERE first_signup IS NOT NULL
              AND first_purchase > first_signup
        )
        SELECT COUNT(*) AS n_converted,
               ROUND(AVG(delay_s), 6) AS mean_delay_s,
               ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY delay_s), 6)
                   AS p50_delay_s,
               ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY delay_s), 6)
                   AS p90_delay_s
        FROM conv
    """,
    section=SECTION,
)
def log_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    purchase follows their first signup (log_funnel's conversion
    definition), the signup→purchase delay in whole seconds —
    reported as count, mean, and exact interpolated p50/p90. The
    latency histogram behind the funnel's bare conversion rate: two
    funnels with equal rates but 1-minute vs 3-day medians are
    different products.

    Scale shape: ONE user_id shuffle with conditional-min partial
    aggs (the funnel's own pass), then a global percentile over the
    ≤|converted users| delay relation — integer seconds, exact
    interpolated percentile (agg_percentile_exact equivalence),
    single final round."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "signup",
                F.date_trunc("second", "ts"),
            )
        ).alias("first_signup"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.date_trunc("second", "ts"),
            )
        ).alias("first_purchase"),
    )
    conv = per_user.filter(
        F.col("first_signup").isNotNull()
        & (F.col("first_purchase") > F.col("first_signup"))
    ).select(
        (
            F.col("first_purchase").cast("long")
            - F.col("first_signup").cast("long")
        ).alias("delay_s")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        ratio(F.avg("delay_s")).alias("mean_delay_s"),
        ratio(F.expr("percentile(delay_s, 0.5)")).alias("p50_delay_s"),
        ratio(F.expr("percentile(delay_s, 0.9)")).alias("p90_delay_s"),
    )


@register(
    "log_spike_attribution",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_err
            FROM events WHERE event_type = 'error'
            GROUP BY 1
        ), thr AS (
            SELECT SUM(n_err) * 1.5 / COUNT(*) AS cut FROM hourly
        ), spikes AS (
            SELECT hour FROM hourly, thr WHERE n_err > cut
        ), tagged AS (
            SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
                   date_trunc('hour', ts) IN (SELECT hour FROM spikes)
                       AS in_spike
            FROM events WHERE event_type = 'error'
        ), per_k AS (
            SELECT k,
                   COUNT(*) FILTER (WHERE in_spike) AS n_spike,
                   COUNT(*) FILTER (WHERE NOT in_spike) AS n_base
            FROM tagged GROUP BY k
        ), totals AS (
            SELECT SUM(n_spike) AS t_spike, SUM(n_base) AS t_base
            FROM per_k
        )
        SELECT k, n_spike, n_base,
               ROUND(n_spike * 1.0 / t_spike, 6) AS spike_share,
               ROUND(n_base * 1.0 / t_base, 6) AS base_share,
               ROUND((n_spike * 1.0 / t_spike)
                     / NULLIF(n_base * 1.0 / t_base, 0), 6) AS lift
        FROM per_k, totals
    """,
    section=SECTION,
)
def log_spike_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident attribution — "what changed during the spike?": hours
    whose error count exceeds 1.5× the hourly mean are the incident
    window; every error's dimension value (the props ``k`` field — a
    shard/region/build id) is then profiled INSIDE vs OUTSIDE that
    window, and the lift ratio (spike share ÷ baseline share) ranks
    which dimension values are over-represented in the incident — the
    first question an on-call asks, answered as one relational pass.

    Scale shape: hourly error counts are a calendar-bounded aggregate;
    the spike-hour set and the 1-row threshold/totals each broadcast
    back (≤ #hours rows), so the big table is scanned twice (hourly
    agg, per-k tag) with every join broadcast and the final agg on the
    ~100-value dimension key. No windows, no global sorts."""
    err = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    ).select(
        F.date_trunc("hour", "ts").alias("hour"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    hourly = err.groupBy("hour").agg(F.count(F.lit(1)).alias("n_err"))
    thr = hourly.agg(
        (F.sum("n_err") * 1.5 / F.count(F.lit(1))).alias("cut")
    )
    spikes = (
        hourly.crossJoin(F.broadcast(thr))
        .filter(F.col("n_err") > F.col("cut"))
        .select("hour", F.lit(True).alias("in_spike"))
    )
    tagged = err.join(F.broadcast(spikes), "hour", "left").select(
        "k", F.coalesce("in_spike", F.lit(False)).alias("in_spike")
    )
    per_k = tagged.groupBy("k").agg(
        F.count(F.when(F.col("in_spike"), 1)).alias("n_spike"),
        F.count(F.when(~F.col("in_spike"), 1)).alias("n_base"),
    )
    totals = per_k.agg(
        F.sum("n_spike").alias("t_spike"), F.sum("n_base").alias("t_base")
    )
    spike_share = F.col("n_spike") * F.lit(1.0) / F.col("t_spike")
    base_share = F.col("n_base") * F.lit(1.0) / F.col("t_base")
    return per_k.crossJoin(F.broadcast(totals)).select(
        "k",
        "n_spike",
        "n_base",
        ratio(spike_share).alias("spike_share"),
        ratio(base_share).alias("base_share"),
        ratio(spike_share / F.nullif(base_share, F.lit(0))).alias("lift"),
    )


def _pagerank_oracle(iters: int) -> str:
    """Unrolled power-iteration oracle: it{k} re-applies the identical
    damped update to it{k-1}; the Spark side runs the same update as a
    DataFrame loop. Every SUM term is a DECIMAL(28,12) cast of a
    bit-identical double product, so partial-sum order cannot matter."""
    step = """
        it{k} AS (
            SELECT nodes.node, nn.nn,
                   CAST(CAST(0.15 AS DOUBLE) / nn.nn
                        + CAST(0.85 AS DOUBLE)
                          * CAST(COALESCE(SUM(
                                CAST(CAST(p.r AS DOUBLE) * e.w / o.ow
                                     AS DECIMAL(28,12))), 0) AS DOUBLE)
                        AS DECIMAL(28,12)) AS r
            FROM nodes CROSS JOIN nn
            LEFT JOIN edges e ON e.dst = nodes.node
            LEFT JOIN it{p} p ON p.node = e.src
            LEFT JOIN outw  o ON o.src = e.src
            GROUP BY nodes.node, nn.nn
        )"""
    chain = ",".join(
        step.format(k=k, p=k - 1) for k in range(1, iters + 1)
    )
    return f"""
        WITH ordered AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS nxt
            FROM events
        ),
        edges AS (
            SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS DOUBLE) AS w
            FROM ordered WHERE nxt IS NOT NULL GROUP BY event_type, nxt
        ),
        outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
        nodes AS (SELECT DISTINCT event_type AS node FROM events),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes),
        it0 AS (
            SELECT node, nn,
                   CAST(CAST(1.0 AS DOUBLE) / nn AS DECIMAL(28,12)) AS r
            FROM nodes CROSS JOIN nn
        ),
        {chain}
        SELECT node AS event_type,
               ROUND(CAST(r AS DOUBLE), 8) AS pagerank
        FROM it{iters}
        ORDER BY pagerank DESC, event_type
    """


@register("log_pagerank_influence", oracle=_pagerank_oracle(3), section=SECTION)
def log_pagerank_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the event-type transition graph — a
    GENUINE ITERATIVE ALGORITHM as a DataFrame loop, the third of the
    iteration family (k-means in embed_kmeans_iterate, label
    propagation in dedup_cluster_assign). Edges are consecutive
    event pairs per user (LEAD over the user timeline, determinismed
    by the event_id tiebreak), collapsed to a weighted node graph
    BOUNDED BY THE EVENT-TYPE VOCABULARY — so however many events are
    scanned (one pass, one window shuffle on user_id), the iterated
    relation is tiny and each of the 3 power steps is a join between
    a ≤|V|² edge list and a |V|-row rank vector. At 100 TB the same
    split holds: one heavy edge-extraction pass, then driver-cheap
    iterations (this is why the loop carries the node count as a
    1-row broadcast column instead of a driver .count()). Rank
    updates keep the cross-engine discipline: each contribution
    r·w/ow is an IEEE double cast to DECIMAL(28,12) BEFORE the
    order-independent exact sum; damping arithmetic re-enters doubles
    on the single summed value. The oracle unrolls the identical
    update as chained CTEs — same numbers, no loop. Dangling-node
    mass is dropped (no dead-end redistribution) on both sides
    alike."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    nxt = F.lead("event_type").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
    )
    edges = (
        ev.select(F.col("event_type").alias("src"), nxt.alias("dst"))
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    g = track_persist(edges.join(outw, "src"))  # |V|² rows, reused 3×
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nrel = nodes.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    r = track_persist(
        nodes.crossJoin(F.broadcast(nrel)).select(
            "node",
            "nn",
            (F.lit(1.0) / F.col("nn")).cast("decimal(28,12)").alias("r"),
        )
    )
    for _ in range(3):
        contrib = (
            g.join(
                F.broadcast(r.select(F.col("node").alias("src"), "r")), "src"
            )
            .select(
                "dst",
                (F.col("r").cast("double") * F.col("w") / F.col("ow"))
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        r = (
            r.select("node", "nn")
            .join(F.broadcast(contrib), r["node"] == contrib["dst"], "left")
            .select(
                "node",
                "nn",
                (
                    F.lit(0.15) / F.col("nn")
                    + F.lit(0.85)
                    * F.coalesce(F.col("s"), F.lit(0)).cast("double")
                )
                .cast("decimal(28,12)")
                .alias("r"),
            )
        )
    return r.select(
        "node",
        F.round(F.col("r").cast("double"), 8).alias("pagerank"),
    ).select(
        F.col("node").alias("event_type"), "pagerank"
    ).orderBy(F.col("pagerank").desc(), "event_type")


@register(
    "log_ab_lift",
    oracle="""
        WITH assigned AS (
            SELECT user_id,
                   CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1)
                             < '8' THEN 'A' ELSE 'B' END AS variant,
                   event_type, value
            FROM events
        ),
        per_user AS (
            SELECT variant, user_id,
                   MAX(CASE WHEN event_type = 'purchase' AND value > 195
                            THEN 1 ELSE 0 END) AS converted
            FROM assigned GROUP BY variant, user_id
        ),
        arms AS (
            SELECT variant,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_conv
            FROM per_user GROUP BY variant
        ),
        wide AS (
            SELECT
                MAX(CASE WHEN variant = 'A' THEN n_users END) AS n_a,
                MAX(CASE WHEN variant = 'A' THEN n_conv END) AS conv_a,
                MAX(CASE WHEN variant = 'B' THEN n_users END) AS n_b,
                MAX(CASE WHEN variant = 'B' THEN n_conv END) AS conv_b
            FROM arms
        )
        SELECT n_a, conv_a, n_b, conv_b,
               ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
               ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
               ROUND((CAST(conv_a AS DOUBLE) / n_a
                      - CAST(conv_b AS DOUBLE) / n_b)
                     / NULLIF(CAST(conv_b AS DOUBLE) / n_b, 0), 6) AS rel_lift,
               ROUND((CAST(conv_a AS DOUBLE) / n_a
                      - CAST(conv_b AS DOUBLE) / n_b)
                     / NULLIF(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1 - CAST(conv_a + conv_b AS DOUBLE)
                                   / (n_a + n_b))
                            * (CAST(1.0 AS DOUBLE) / n_a
                               + CAST(1.0 AS DOUBLE) / n_b)), 0), 6) AS z_score
        FROM wide
    """,
    section=SECTION,
)
def log_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout from raw logs: users are assigned to
    arms by the engine-neutral md5-hex split (first nibble < '8' →
    A, the deterministic ~50/50 the sampling family standardized),
    per-user conversion is MAX(high-value purchase: value > 195) so
    repeat converters count once and the rate has real variation
    (every fixture user makes SOME purchase — the plain flag would be
    a degenerate all-ones readout with a 0/0 z-score), and the one-row readout carries both arms' user/converter
    counts, conversion rates, relative lift, and the pooled
    two-proportion z-score. Plan: one events scan → user-keyed
    partial-agg shuffle (per_user) → 2-group agg → 1-row pivot; at
    100 TB the only real shuffle is the user rollup, which
    pre-combines map-side. The z-score arithmetic runs on single
    scalar values (no partial-sum ordering), so plain IEEE doubles
    with one 6-dp output rounding are bit-identical cross-engine."""
    assigned = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
            < "8",
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        ((F.col("event_type") == "purchase") & (F.col("value") > 195))
        .cast("int")
        .alias("is_purchase"),
    )
    per_user = assigned.groupBy("variant", "user_id").agg(
        F.max("is_purchase").alias("converted")
    )
    arms = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("n_conv"))).alias(
            "conv_a"
        ),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("n_conv"))).alias(
            "conv_b"
        ),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled
        * (1 - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round((ra - rb) / F.nullif(rb, F.lit(0.0)), 6).alias("rel_lift"),
        F.round((ra - rb) / F.nullif(se, F.lit(0.0)), 6).alias("z_score"),
    )


@register(
    "log_sequence_pattern",
    oracle="""
        WITH seqs AS (
            SELECT user_id,
                   string_agg(substring(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        )
        SELECT user_id,
               CAST(length(seq) AS INT) AS seq_len,
               CAST(CASE WHEN regexp_matches(seq, 'v.*c.*p')
                         THEN 1 ELSE 0 END AS INT) AS has_funnel,
               CAST((length(seq) - length(replace(seq, 'ee', ''))) / 2
                    AS INT) AS n_error_bursts,
               CAST(strpos(seq, 'p') AS INT) AS first_purchase_pos
        FROM seqs
    """,
    section=SECTION,
)
def log_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex over the ORDERED per-user event sequence — the
    MATCH_RECOGNIZE-lite every log store grows: each user's timeline
    is collapsed to a compact initial-letter string ('vcvpe…') and
    patterns run on it as ordinary regexes — ordered funnel
    v.*c.*p (view then click then purchase, any interleaving, which
    log_funnel's per-stage timestamp joins cannot express as one
    pattern), non-overlapping error bursts 'ee' via the replace
    length trick (same non-overlap semantics in both engines), and
    first-purchase position. Ordering is total (ts then event_id) so
    the string — hence every regex verdict — is deterministic;
    Spark builds it shuffle-once with array_sort(collect_list(struct))
    rather than a window-then-agg double shuffle. Per-user sequences
    are bounded by the session cap documented at
    MAX_EVENTS_PER_USER-scale corpora; a 670-char string per user at
    sf0.1 is ~1 MB per thousand users — the compaction is WHY
    sequence regex stays tractable at 100 TB while row-level pattern
    joins explode. DuckDB mirrors with ordered string_agg +
    regexp_matches."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "c"))),
            lambda s: s["c"],
        ),
        "",
    )
    seqs = ev.groupBy("user_id").agg(seq.alias("seq"))
    return seqs.select(
        "user_id",
        F.length("seq").alias("seq_len"),
        F.col("seq").rlike("v.*c.*p").cast("int").alias("has_funnel"),
        (
            (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit("ee"))))
            / 2
        )
        .cast("int")
        .alias("n_error_bursts"),
        F.instr("seq", "p").alias("first_purchase_pos"),
    )


@register(
    "log_triangle_count",
    oracle="""
        WITH e AS (
            SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
            FROM events WHERE event_type = 'error'
        ), p AS (
            SELECT a.user_id AS ua, b.user_id AS ub
            FROM e a JOIN e b ON a.h = b.h AND a.user_id < b.user_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), deg AS (
            SELECT u, COUNT(*) AS d
            FROM (SELECT ua AS u FROM p UNION ALL SELECT ub AS u FROM p)
            GROUP BY u
        ), o AS (
            SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND ua < ub)
                        THEN ua ELSE ub END AS src,
                   CASE WHEN da.d < db.d OR (da.d = db.d AND ua < ub)
                        THEN ub ELSE ua END AS dst
            FROM p JOIN deg da ON da.u = ua JOIN deg db ON db.u = ub
        ), tri AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM o e1 JOIN o e2 ON e2.src = e1.dst
            JOIN p e3 ON e3.ua = LEAST(e1.src, e2.dst)
                     AND e3.ub = GREATEST(e1.src, e2.dst)
        ), member AS (
            SELECT unnest([a, b, c]) AS user_id FROM tri
        )
        SELECT m.user_id, CAST(MAX(deg.d) AS BIGINT) AS degree,
               CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM member m JOIN deg ON deg.u = m.user_id
        GROUP BY m.user_id
    """,
    section=SECTION,
)
def log_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-error graph — "which users fail
    together in tightly-knit groups": vertices are users, an edge
    joins two users who both errored in the same hour bucket at least
    twice, and a triangle is three mutually-connected users (the
    blast-radius clique detector; triangles also feed clustering
    coefficients for incident forensics).

    Scale shape is the classic DEGREE-ORIENTED enumeration (the
    standard distributed triangle algorithm): every undirected edge
    is oriented from its lower-degree endpoint to its higher-degree
    endpoint (id tiebreak), so wedge fan-out per vertex is bounded by
    its OUT-degree — at most O(sqrt(m)) after orientation — instead
    of raw degree; each triangle is then found exactly once as the
    wedge a->b->c (in the degree total order) closed by the
    undirected edge {a,c}. Three shuffles total: the hour-bucket
    pair-join (bounded per bucket by users-per-hour), the wedge
    equi-join on the shared middle vertex, and the closing edge
    equi-join — no cartesian anywhere (the plan test pins this). The
    degree table joins WITHOUT a broadcast hint: vertices are
    unbounded at 100 TB, so AQE picks the strategy (it broadcasts at
    fixture scale, where deg is tiny)."""
    ev = load_table(spark, sf_dir, "events")
    e = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.date_trunc("hour", "ts").alias("h"))
        .distinct()
    )
    a, b = e.alias("a"), e.alias("b")
    p = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .groupBy(
            F.col("a.user_id").alias("ua"), F.col("b.user_id").alias("ub")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
        .select("ua", "ub")
    )
    # eager persists (r13): deg's two union branches, o's join sides,
    # and the closing-edge join all hit each cache concurrently cold.
    p = track_persist(p, eager=True)
    deg = (
        p.select(F.col("ua").alias("u"))
        .unionAll(p.select(F.col("ub").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg = track_persist(deg, eager=True)
    da = deg.select(F.col("u").alias("ua"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("ub"), F.col("d").alias("db"))
    fwd = F.col("da") < F.col("db"), (F.col("da") == F.col("db")) & (
        F.col("ua") < F.col("ub")
    )
    is_fwd = fwd[0] | fwd[1]
    o = (
        p.join(da, "ua")
        .join(db, "ub")
        .select(
            F.when(is_fwd, F.col("ua")).otherwise(F.col("ub")).alias("src"),
            F.when(is_fwd, F.col("ub")).otherwise(F.col("ua")).alias("dst"),
        )
    )
    o = track_persist(o, eager=True)
    e1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = o.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    close = p.select(F.col("ua").alias("lo"), F.col("ub").alias("hi"))
    tri = (
        e1.join(e2, "b")
        .join(
            close,
            (F.least("a", "c") == F.col("lo"))
            & (F.greatest("a", "c") == F.col("hi")),
        )
        .select("a", "b", "c")
    )
    member = tri.select(
        F.explode(F.array("a", "b", "c")).alias("user_id")
    )
    return (
        member.join(deg.withColumnRenamed("u", "user_id"), "user_id")
        .groupBy("user_id")
        .agg(
            F.max("d").cast("bigint").alias("degree"),
            F.count(F.lit(1)).cast("bigint").alias("n_triangles"),
        )
    )


# Shared decimal literal so Spark and DuckDB parse the SAME double for
# the decay rate (computing ln(2)/86400 separately per engine would
# race libm ulp differences): one-day half-life, in 1/seconds.
_DECAY_LAMBDA = "8.022559354661745e-06"


@register(
    "log_decayed_rate",
    oracle=f"""
        WITH e AS (
            SELECT user_id, date_trunc('second', ts) AS ts FROM events
        ), t AS (SELECT MAX(ts) AS t_now FROM e),
        terms AS (
            SELECT user_id,
                   CAST(ROUND(exp(-{_DECAY_LAMBDA} *
                        (epoch(t_now) - epoch(ts))), 8)
                        AS DECIMAL(18,8)) AS w
            FROM e CROSS JOIN t
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(ROUND(SUM(w), 6) AS DOUBLE) AS decayed_count
        FROM terms GROUP BY user_id
    """,
    section=SECTION,
)
def log_decayed_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity score per user as of the
    stream's latest timestamp (half-life = 1 day) — the "how active is
    this user NOW" counter that powers rate limiting and freshness
    ranking: an event a half-life ago counts 0.5, two half-lives 0.25.

    Cross-engine determinism: the decay rate is a SHARED DECIMAL
    LITERAL parsed to the same double by both engines (ln(2)/86400
    computed per-engine could differ in the last ulp); each per-event
    weight exp(-lambda*age_sec) is rounded to 8 dp and summed as
    DECIMAL(18,8) — order-independent — so partitioned Spark sums and
    DuckDB's single-threaded sum agree exactly; the FINAL 6-dp round
    also happens in decimal space (dround) because an exact decimal
    sum CAN sit on a half-boundary where double ROUND diverges
    cross-engine (caught live at sf0.1: 2.0281605). age_sec is integer
    arithmetic on second-truncated timestamps. Scale shape: map-only
    weight computation + one groupBy(user_id) with map-side partial
    aggregation; the anchor timestamp is ONE bounded max() action
    (the only driver scalar)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("second", "ts").alias("ts")
    )
    t_now = ev.agg(F.max("ts")).first()[0]  # driver-scalar anchor
    age = F.unix_timestamp(F.lit(t_now)) - F.unix_timestamp("ts")
    w = F.round(
        F.exp(-F.lit(float(_DECAY_LAMBDA)) * age), 8
    ).cast("decimal(18,8)")
    return (
        ev.select("user_id", w.alias("w"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dround(F.sum("w"), 6).alias("decayed_count"),
        )
    )


@register(
    "log_k_anonymity",
    oracle="""
        WITH q AS (
            SELECT event_type, hour(ts) AS hod,
                   CAST(floor(value) AS BIGINT) AS vband
            FROM events
        ), classes AS (
            SELECT event_type, hod, vband, COUNT(*) AS csize
            FROM q GROUP BY 1, 2, 3
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MIN(csize) AS BIGINT) AS k_anonymity,
               CAST(SUM(CASE WHEN csize < 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_risky_classes,
               CAST(SUM(CASE WHEN csize < 5 THEN csize ELSE 0 END)
                    AS BIGINT) AS n_risky_rows,
               ROUND(SUM(CASE WHEN csize < 5 THEN csize ELSE 0 END) * 1.0
                     / SUM(csize), 6) AS risky_row_share
        FROM classes
    """,
    section=SECTION,
)
def log_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers — the privacy gate a
    training-data pipeline runs before release: rows are grouped into
    equivalence classes by the quasi-identifier tuple (event type,
    hour-of-day, integer value band); the dataset's k-anonymity is the
    SMALLEST class size (any class below threshold k=5 is a
    re-identification risk — an attacker knowing just the quasi tuple
    pins a member to <5 candidates). Emits the class count, the k
    level, and the risky class/row exposure in one row.

    Scale shape: ONE groupBy on the bounded quasi tuple (|types| x 24
    x value bands) with map-side partials, then a second bounded agg
    over class sizes — no row-level data ever shuffles beyond the
    partial counts; integer-exact until the final rounded share."""
    q = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.floor("value").cast("bigint").alias("vband"),
    )
    classes = q.groupBy("event_type", "hod", "vband").agg(
        F.count(F.lit(1)).alias("csize")
    )
    risky = F.when(F.col("csize") < 5, F.col("csize")).otherwise(F.lit(0))
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("csize").cast("bigint").alias("k_anonymity"),
        F.sum((F.col("csize") < 5).cast("int"))
        .cast("bigint")
        .alias("n_risky_classes"),
        F.sum(risky).cast("bigint").alias("n_risky_rows"),
        ratio(F.sum(risky) / F.sum("csize")).alias("risky_row_share"),
    )


@register(
    "log_dp_noisy_release",
    # Same md5 -> uniform -> Laplace inverse-CDF arithmetic on both
    # engines; ROUND(.,6) absorbs ln() last-ulp libm differences (the
    # sample_importance_weighted precedent). The true count is emitted
    # ONLY as the verification certificate, like the exact column in
    # agg_hll_sketch_merge.
    oracle="""
        WITH g AS (
            SELECT event_type, COUNT(*) AS n_events
            FROM events GROUP BY event_type
        ), drawn AS (
            SELECT event_type, n_events,
                   (CAST('0x' || substring(md5(event_type), 1, 8)
                         AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS c
            FROM g
        )
        SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
               0.5 AS eps,
               ROUND(n_events
                     - 2.0 * sign(c) * ln(1.0 - 2.0 * abs(c)), 6)
                   AS noisy_count,
               ROUND(abs(-2.0 * sign(c) * ln(1.0 - 2.0 * abs(c))), 6)
                   <= 27.631021 AS noise_bound_ok
        FROM drawn
    """,
    section=SECTION,
)
def log_dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (r9) — the publication
    step after log_k_anonymity's audit: per-event-type counts with
    Laplace(Δ/ε) noise, ε = 0.5, event-level sensitivity Δ = 1 (one
    event changes one row; USER-level DP additionally needs per-user
    contribution clipping before this operator — documented, not
    silently assumed). Noise is the Laplace inverse-CDF of a
    deterministic md5-derived uniform — the engine-neutral-randomness
    discipline every sampling op here uses, which is what lets a
    second engine REPRODUCE the release bit-for-bit and audit it (a
    production release would substitute a fresh secret seed per
    publication; the mechanism and its calibration are what this
    operator pins). noise_bound_ok certifies in-plan that the drawn
    noise sits inside the (1−δ) Laplace envelope b·ln(1/δ) at
    δ = 1e−6 (2·ln(1e6) ≈ 27.63) — the utility half of the DP
    contract.

    Scale: one bounded-key aggregation (|event_type| keys) + a
    map-side noise projection; the DP budget spent is ε per release
    regardless of corpus size — at 100 TB the agg is the same partial
    count the flagship runs, and noise cost is O(groups)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    u32 = F.conv(
        F.substring(F.md5(F.col("event_type")), 1, 8), 16, 10
    ).cast("bigint")
    c = (u32 + F.lit(0.5)) / F.lit(4294967296.0) - F.lit(0.5)
    noise = (
        F.lit(-2.0)
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    return g.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.lit(0.5).alias("eps"),
        F.round(F.col("n_events") + noise, 6).alias("noisy_count"),
        # Certificate computed on the 6-dp grid on BOTH engines
        # (ADVICE r9): the unrounded |noise| carries a libm ln() whose
        # last ulp can differ between the JVM and DuckDB; unlike
        # noisy_count there is no ROUND absorption on a raw boolean,
        # so a draw within an ulp of the bound would hash-diverge.
        (F.round(F.abs(noise), 6) <= F.lit(27.631021)).alias(
            "noise_bound_ok"
        ),
    )


@register(
    "log_dp_noisy_release_userlevel",
    # Clip-then-count-then-perturb on both engines: row_number over
    # (user_id ORDER BY event_id) is a deterministic total order
    # (event_id is unique), so both engines keep the IDENTICAL k=32
    # events per user; the Laplace draw reuses the md5 inverse-CDF
    # machinery with a 'u|' salt so the user-level release never
    # shares noise with the event-level one.
    oracle="""
        WITH clipped AS (
            SELECT event_type FROM (
                SELECT event_type,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY event_id
                       ) AS rk
                FROM events
            ) WHERE rk <= 32
        ), g AS (
            SELECT event_type, COUNT(*) AS n_clipped
            FROM clipped GROUP BY event_type
        ), drawn AS (
            SELECT event_type, n_clipped,
                   (CAST('0x' || substring(md5('u|' || event_type), 1, 8)
                         AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS c
            FROM g
        )
        SELECT event_type, CAST(n_clipped AS BIGINT) AS n_clipped,
               0.5 AS eps, CAST(32 AS BIGINT) AS k_clip,
               ROUND(n_clipped
                     - 64.0 * sign(c) * ln(1.0 - 2.0 * abs(c)), 6)
                   AS noisy_count,
               ROUND(abs(-64.0 * sign(c) * ln(1.0 - 2.0 * abs(c))), 6)
                   <= 884.192676 AS noise_bound_ok
        FROM drawn
    """,
    section=SECTION,
)
def log_dp_noisy_release_userlevel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """USER-level differentially-private count release (r10, closing
    log_dp_noisy_release's documented caveat): adding or removing one
    whole USER must be indistinguishable, not just one event. The
    mechanism is clip-then-count-then-perturb — every user contributes
    at most k = 32 events (row_number over a per-user window ordered
    by the unique event_id, a deterministic clip both engines
    reproduce row-for-row), so the L1 sensitivity of the per-type
    count vector to one user's presence is k, and each count gets
    Laplace(k/ε) noise, ε = 0.5 → scale b = 64. The clip actually
    bites on the fixtures (max events/user ≈ 86 > 32), so n_clipped
    pins that the clipping ran, not just the noise. noise_bound_ok
    certifies the draw sits inside the (1−δ) envelope b·ln(1/δ) at
    δ = 1e−6 (64·ln(1e6) ≈ 884.19), computed on the 6-dp ROUND grid
    on both engines (the ADVICE-r9 ulp discipline from birth).

    Scale: one shuffle on user_id (the window), rank truncation
    map-side after it, then a bounded-|event_type|-key partial agg —
    the same two-exchange shape as log_hourly_top_users; at 100 TB the
    per-user window is the standard contribution-bounding pass every
    user-level DP pipeline runs, and noise cost stays O(groups)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    clipped = (
        ev.select("user_id", "event_id", "event_type")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 32)
    )
    g = clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_clipped")
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("u|"), F.col("event_type"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    c = (u32 + F.lit(0.5)) / F.lit(4294967296.0) - F.lit(0.5)
    noise = (
        F.lit(-64.0)
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    return g.select(
        "event_type",
        F.col("n_clipped").cast("bigint").alias("n_clipped"),
        F.lit(0.5).alias("eps"),
        F.lit(32).cast("bigint").alias("k_clip"),
        F.round(F.col("n_clipped") + noise, 6).alias("noisy_count"),
        (F.round(F.abs(noise), 6) <= F.lit(884.192676)).alias(
            "noise_bound_ok"
        ),
    )


@register(
    "log_dp_noisy_sum_userlevel",
    # Exact-decimal user×type sums (dec4 discipline), decimal clip at
    # C=500, decimal release sum ROUNDed to the shared 2-dp grid
    # BEFORE the double noise is added — every noisy_sum input is
    # bit-identical across engines; certificates on the 6-dp grid.
    oracle="""
        WITH ut AS (
            SELECT user_id, event_type,
                   SUM(CAST(value AS DECIMAL(18,4))) AS s
            FROM events GROUP BY 1, 2
        ), g AS (
            SELECT event_type,
                   CAST(ROUND(SUM(least(s, CAST(500 AS DECIMAL(18,4)))), 2)
                        AS DOUBLE) AS clipped_sum,
                   CAST(SUM(CASE WHEN s > 500 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_users_clipped
            FROM ut GROUP BY 1
        ), drawn AS (
            SELECT event_type, clipped_sum, n_users_clipped,
                   (CAST('0x' || substring(md5('us|' || event_type), 1, 8)
                         AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS c
            FROM g
        )
        SELECT event_type, clipped_sum,
               CAST(500 AS BIGINT) AS clip_c, 0.5 AS eps,
               n_users_clipped,
               ROUND(clipped_sum
                     - 1000.0 * sign(c) * ln(1.0 - 2.0 * abs(c)), 6)
                   AS noisy_sum,
               ROUND(abs(-1000.0 * sign(c) * ln(1.0 - 2.0 * abs(c))), 6)
                   <= 13815.510558 AS noise_bound_ok
        FROM drawn
    """,
    section=SECTION,
)
def log_dp_noisy_sum_userlevel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """USER-level DP SUM release (r10) — the other standard primitive
    next to the clipped count: per-type revenue/value totals where
    each user's contribution to a type is CLIPPED at C = 500 value
    units (the fixture's per-user-type sums average ~660, so the clip
    bites on ~70% of contributions — n_users_clipped pins it), then
    Laplace(C/ε) noise, ε = 0.5 → scale b = 1000. Clipping bounds the
    L1 sensitivity of each type's sum to one user's presence by C
    regardless of how many events the user has — the value-space
    analogue of the count op's k-event cap. ε is PER released group;
    a user can span groups, so a full-vector release composes
    sequentially (ε_total = ε·n_types) — stated, not hidden (the same
    caveat applies to any per-group DP release keyed on a non-user
    attribute). noise_bound_ok certifies the (1−1e−6) envelope
    b·ln(1/δ) ≈ 13815.51 on the 6-dp grid both engines share.

    Scale: one shuffle on the composite (user_id, event_type) key
    (time-diluted skew, the log_rate_limit_flag shape), map-side
    decimal clip, then a bounded-|event_type| agg — the clip is the
    standard contribution-bounding pass, fused into the first
    aggregation rather than a separate window (no per-user ordering
    needed for sums, unlike the count op's k-row rank)."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.sum(dec4("value")).alias("s")
    )
    clip = F.least(F.col("s"), F.lit(500).cast("decimal(18,4)"))
    g = ut.groupBy("event_type").agg(
        dround(F.sum(clip)).alias("clipped_sum"),
        F.sum((F.col("s") > 500).cast("int"))
        .cast("bigint")
        .alias("n_users_clipped"),
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("us|"), F.col("event_type"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    c = (u32 + F.lit(0.5)) / F.lit(4294967296.0) - F.lit(0.5)
    noise = (
        F.lit(-1000.0)
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    return g.select(
        "event_type",
        "clipped_sum",
        F.lit(500).cast("bigint").alias("clip_c"),
        F.lit(0.5).alias("eps"),
        "n_users_clipped",
        F.round(F.col("clipped_sum") + noise, 6).alias("noisy_sum"),
        (F.round(F.abs(noise), 6) <= F.lit(13815.510558)).alias(
            "noise_bound_ok"
        ),
    )


def lifecycle_stages(events: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Daily growth accounting over ``events``: one row per active day
    with ``day`` (a date), ``active_users`` split into ``new_users``
    (first day ever), ``retained_users`` (also active the day before)
    and ``resurrected_users`` (back after a gap), plus
    ``churned_users`` = the previous active day's actives minus
    today's retained. All counts are bigint.

    Scale shape: one distinct (user, day) agg, one user-partitioned
    lag window (per-user rows bounded by the calendar), one day
    groupBy, and a final lag over the ~30-row calendar domain (the
    bounded-domain global window this repo's no-partition-window rule
    explicitly allows)."""
    daily = events.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("day")
    ).distinct()
    wu = Window.partitionBy("u").orderBy("day")
    staged = daily.select(
        "day",
        F.when(F.lag("day").over(wu).isNull(), "new")
        .when(F.datediff("day", F.lag("day").over(wu)) == 1, "retained")
        .otherwise("resurrected")
        .alias("stage"),
    )
    per_day = staged.groupBy("day").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.count(F.when(F.col("stage") == "new", 1)).alias("new_users"),
        F.count(F.when(F.col("stage") == "retained", 1)).alias(
            "retained_users"
        ),
        F.count(F.when(F.col("stage") == "resurrected", 1)).alias(
            "resurrected_users"
        ),
    )
    wd = bounded_global_window("day", max_rows=31, why="calendar day grid (<=31 rows)")
    return per_day.withColumn(
        "churned_users",
        F.coalesce(F.lag("active_users").over(wd), F.lit(0))
        - F.col("retained_users"),
    )


@register(
    "log_user_lifecycle_stages",
    oracle="""
        WITH daily AS (
            SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE)
                AS day
            FROM events
        ), seq AS (
            SELECT user_id, day,
                   lag(day) OVER (PARTITION BY user_id ORDER BY day)
                       AS prev_day
            FROM daily
        ), staged AS (
            SELECT day,
                   CASE WHEN prev_day IS NULL THEN 'new'
                        WHEN day - prev_day = 1 THEN 'retained'
                        ELSE 'resurrected' END AS stage
            FROM seq
        ), per_day AS (
            SELECT day,
                   COUNT(*) AS active_users,
                   SUM(CASE WHEN stage = 'new' THEN 1 ELSE 0 END) AS new_users,
                   SUM(CASE WHEN stage = 'retained' THEN 1 ELSE 0 END)
                       AS retained_users,
                   SUM(CASE WHEN stage = 'resurrected' THEN 1 ELSE 0 END)
                       AS resurrected_users
            FROM staged GROUP BY day
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(active_users AS BIGINT) AS active_users,
               CAST(new_users AS BIGINT) AS new_users,
               CAST(retained_users AS BIGINT) AS retained_users,
               CAST(resurrected_users AS BIGINT) AS resurrected_users,
               CAST(COALESCE(lag(active_users) OVER (ORDER BY day), 0)
                    - retained_users AS BIGINT) AS churned_users
        FROM per_day
    """,
    section=SECTION,
)
def log_user_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the canonical user-lifecycle decomposition
    every product team reports: per day, actives split into NEW (first
    day ever), RETAINED (also active yesterday), RESURRECTED (returning
    after a gap), and CHURNED (active yesterday, absent today =
    yesterday's actives minus today's retained). The four stages
    partition actives exactly: new + retained + resurrected =
    active_users, an identity the oracle hash-pins.

    Scale shape is lifecycle_stages'. Everything integer-exact; only
    the day is formatted here."""
    return lifecycle_stages(
        load_table(spark, sf_dir, "events"), "user_id", "ts"
    ).withColumn("day", F.date_format("day", "yyyy-MM-dd"))
