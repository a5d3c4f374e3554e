"""Output checks, run once per invocation outside the timed loop.

- Registry operators: ``tools.diffcheck.check_one`` against the
  operator's DuckDB oracle over the workload's input directory.
- Facade requests: the request's result, reduced to a small digest in
  Spark, against the same digest computed by equivalent DuckDB SQL.
- The ingest table: its final snapshot's row count and checksums
  against the rows the benchmark appended minus the rows it deleted.

Every mismatch or exception is one failed operation in ``Outcomes``.
"""

from __future__ import annotations

import dataclasses
import functools
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from spans import Outcomes

CHECK_THREADS = 4


@functools.lru_cache(maxsize=4)
def _oracle(data_dir: str):
    from tools.diffcheck import oracle_connection

    return oracle_connection(data_dir)


def _canon(pdf) -> tuple:
    from tools.diffcheck import canon_frame

    return canon_frame(pdf)


def run_all(checks) -> None:
    """Run independent checks four at a time, each DuckDB query on its
    own cursor."""
    with ThreadPoolExecutor(CHECK_THREADS) as pool:
        list(pool.map(lambda check: check(), checks))


def operator(spark, op, data_dir: str, outcomes: Outcomes, result=None) -> None:
    """``op`` against its oracle. ``result``, when given, is a
    DataFrame the measured loop already built with ``op``; checking it
    saves building the operator again."""
    from tools.diffcheck import check_one

    if result is not None:
        op = dataclasses.replace(op, fn=lambda spark, data_dir: result)
    try:
        ok, msg = check_one(spark, _oracle(data_dir).cursor(), op, data_dir)
    except Exception as e:  # an operator that raises fails its check
        ok, msg = False, f"{type(e).__name__}: {e}"[:300]
    outcomes.check(f"oracle:{op.name}", ok, msg)


def _regex_sql(p: dict) -> str:
    cols = p["columns"] or ["event_type", "props"]
    pat = p["pattern"].replace("'", "''")
    return "(" + " OR ".join(f"regexp_matches({c}, '{pat}')" for c in cols) + ")"


def _lifecycle_sql() -> str:
    return """
        WITH d AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
        s AS (
            SELECT day,
                   CASE WHEN lag(day) OVER w IS NULL THEN 'new'
                        WHEN day - lag(day) OVER w = 1 THEN 'retained'
                        ELSE 'resurrected' END AS stage
            FROM d WINDOW w AS (PARTITION BY u ORDER BY day)
        ),
        p AS (
            SELECT day, count(*) AS active_users,
                   count(*) FILTER (WHERE stage = 'new') AS new_users,
                   count(*) FILTER (WHERE stage = 'retained') AS retained_users,
                   count(*) FILTER (WHERE stage = 'resurrected') AS resurrected_users
            FROM s GROUP BY day
        )
        SELECT CAST(day AS VARCHAR) AS day, active_users, new_users,
               retained_users, resurrected_users,
               coalesce(lag(active_users) OVER (ORDER BY day), 0)
                   - retained_users AS churned_users
        FROM p
    """


def _bm25_sql(p: dict) -> str:
    terms = p["terms"]
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df_{i}"
        for i, t in enumerate(terms)
    )
    score = " + ".join(
        f"ln((st.n - st.df_{i} + 0.5) / (st.df_{i} + 0.5) + 1.0) * "
        f"((len(list_filter(toks, x -> x = '{t}')) * 2.2) / "
        f"(len(list_filter(toks, x -> x = '{t}')) + 1.2 * "
        f"(0.25 + 0.75 * (len(toks) / st.avgdl))))"
        for i, t in enumerate(terms)
    )
    return f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        st AS (SELECT count(*) AS n, sum(len(toks)) / count(*) AS avgdl, {dfs} FROM d),
        sc AS (SELECT doc_id, {score} AS raw FROM d, st)
        SELECT doc_id, round(raw, 4) AS score FROM sc WHERE raw > 0
        ORDER BY raw DESC, doc_id LIMIT {p['k']}
    """


def _session_sql(gap: str) -> str:
    return f"""
        WITH e AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER w >= INTERVAL '{gap}' OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        s AS (
            SELECT user_id, ts, sum(new) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid FROM e
        ),
        g AS (
            SELECT min(ts) AS st, max(ts) + INTERVAL '{gap}' AS en, count(*) AS n
            FROM s GROUP BY user_id, sid
        )
        SELECT count(*) AS sessions, CAST(sum(n) AS BIGINT) AS events,
               CAST(sum(epoch_us(st) // 1000000) AS BIGINT) AS st_s,
               CAST(sum(epoch_us(st) % 1000000) AS BIGINT) AS st_us,
               CAST(sum(epoch_us(en) // 1000000) AS BIGINT) AS en_s
        FROM g
    """


def _spark_digest(df, kind: str, p: dict):
    """Reduce a facade result to the digest the DuckDB SQL computes."""
    if kind in ("search", "search_range"):
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("ids")
        )
    if kind == "tail":
        return df.select("event_id")
    if kind == "histogram":
        cols = [F.unix_micros("bucket").alias("b")]
        cols += [F.col(p["by"])] if p["by"] else []
        return df.select(*cols, "n")
    if kind == "top":
        return df.select(
            F.col(p["by"]).alias("k"), F.round(F.col("value").cast("double"), 4).alias("v")
        )
    if kind == "sessionize":
        return df.agg(
            F.count(F.lit(1)).alias("sessions"),
            F.sum("n_events").alias("events"),
            F.sum(F.unix_seconds("session_start")).alias("st_s"),
            F.sum(F.unix_micros("session_start") % 1000000).alias("st_us"),
            F.sum(F.unix_seconds("session_end")).alias("en_s"),
        )
    if kind == "search_ranked":
        return df.select("doc_id", F.round("score", 4).alias("score"))
    if kind == "lifecycle":
        return df.withColumn("day", F.col("day").cast("string"))
    return df


def _duck_sql(kind: str, p: dict) -> str:
    if kind in ("search", "search_range"):
        where = _regex_sql(p)
        if kind == "search_range":
            where += (
                f" AND ts >= TIMESTAMP '{p['since']}' AND ts < TIMESTAMP '{p['until']}'"
            )
        return (
            "SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS ids "
            f"FROM events WHERE {where}"
        )
    if kind == "tail":
        return f"SELECT event_id FROM events ORDER BY ts DESC LIMIT {p['n']}"
    if kind == "histogram":
        s = {"15 minutes": 900, "1 hour": 3600, "6 hours": 21600, "1 day": 86400}[
            p["bucket"]
        ] * 1_000_000
        by = f", {p['by']}" if p["by"] else ""
        return (
            f"SELECT (epoch_us(ts) // {s}) * {s} AS b{by}, count(*) AS n "
            f"FROM events GROUP BY ALL"
        )
    if kind == "top":
        agg = "count(*)" if p["metric"] == "count" else "sum(value)"
        return (
            f"SELECT {p['by']} AS k, round(CAST({agg} AS DOUBLE), 4) AS v FROM events "
            f"GROUP BY {p['by']} ORDER BY {agg} DESC, {p['by']} LIMIT {p['n']}"
        )
    if kind == "sessionize":
        return _session_sql(p["gap"])
    if kind == "search_ranked":
        return _bm25_sql(p)
    if kind == "lifecycle":
        return _lifecycle_sql()
    if kind == "sql":
        from workloads import sql_text

        return sql_text(p)
    raise ValueError(kind)


def facade(db, data_dir: str, kind: str, p: dict, outcomes: Outcomes) -> None:
    from workloads import facade_call

    try:
        got = _canon(_spark_digest(facade_call(db, kind, p), kind, p).toPandas())
        want = _canon(_oracle(data_dir).cursor().execute(_duck_sql(kind, p)).df())
        ok, msg = got == want, f"{kind} {p}: spark/duckdb digests differ"
    except Exception as e:
        ok, msg = False, f"{kind} {p}: {type(e).__name__}: {e}"[:300]
    outcomes.check(f"facade:{kind}", ok, msg)


def snapshot(tx, present: np.ndarray, cents: np.ndarray, outcomes: Outcomes) -> None:
    """The table's head snapshot holds exactly the appended rows minus
    the deleted ones: row count, event_id sum and value sum (cents)."""
    try:
        row = tx.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("ids"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        ).first()
        got = (row["n"], row["ids"] or 0, row["cents"] or 0)
        idx = np.flatnonzero(present)
        want = (len(idx), int(idx.sum()), int(cents[idx].sum()))
        ok, msg = got == want, f"snapshot {got} != expected {want}"
    except Exception as e:
        ok, msg = False, f"{type(e).__name__}: {e}"[:300]
    outcomes.check("ingest:snapshot", ok, msg)
