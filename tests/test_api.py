"""LogDB facade tests — the user-facing surface composes operator
kernels correctly and stays lazy/distributed."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from logdb_spark.api import LogDB
from logdb_spark.functions.numeric import ratio
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def db(spark):
    db = LogDB(spark)
    db.ingest_parquet(f"{SF_SMALL}/events.parquet", "ev")
    return db


def test_ingest_normalizes_ns_timestamps(db):
    assert dict(db.table("ev").dtypes)["ts"].startswith("timestamp")


def test_search_with_time_range(db):
    hits = db.search("ev", "^err", since="2024-01-02", until="2024-01-05")
    rows = hits.collect()
    assert rows and all(r["event_type"] == "error" for r in rows)
    assert all("2024-01-02" <= str(r["ts"])[:10] < "2024-01-05" for r in rows)


def test_search_requires_string_columns(db):
    db.register("nums", db.table("ev").select("value", "ts"))
    with pytest.raises(ValueError):
        db.search("nums", "x")


def test_tail_returns_latest(db):
    rows = db.tail("ev", n=5).collect()
    assert len(rows) == 5
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts, reverse=True)
    max_ts = db.table("ev").agg(F.max("ts")).first()[0]
    assert ts[0] == max_ts


def test_histogram_buckets_sum_to_total(db):
    h = db.histogram("ev", bucket="1 day", by="event_type")
    assert h.agg(F.sum("n")).first()[0] == db.table("ev").count()


def test_sessionize_counts_all_events(db):
    s = db.sessionize("ev", gap="30 minutes")
    assert s.agg(F.sum("n_events")).first()[0] == db.table("ev").count()


def test_top_matches_manual_group(db):
    top = db.top("ev", by="event_type", n=3).collect()
    manual = (
        db.table("ev")
        .groupBy("event_type")
        .count()
        .orderBy(F.col("count").desc(), "event_type")
        .limit(3)
        .collect()
    )
    assert [(r["event_type"], r["value"]) for r in top] == [
        (r["event_type"], r["count"]) for r in manual
    ]


def test_sql_over_registered_table(db):
    n = db.sql("SELECT count(*) AS n FROM ev").first()["n"]
    assert n == db.table("ev").count()


def test_ingest_loglines_grok(db, tmp_path):
    raw = tmp_path / "app.log"
    raw.write_text(
        "2024-01-01 00:00:01|7|error|12.5\n2024-01-01 00:00:02|8|view|3.25\n"
    )
    df = db.ingest_loglines(
        str(raw),
        "applog",
        r"^([^|]+)\|([^|]+)\|([^|]+)\|([^|]+)$",
        {"ts": "string", "user_id": "bigint", "event_type": "string", "value": "double"},
        ts_field="ts",
    )
    rows = df.orderBy("user_id").collect()
    assert [r["user_id"] for r in rows] == [7, 8]
    assert rows[0]["event_type"] == "error" and rows[0]["value"] == 12.5
    assert str(rows[0]["ts"]).startswith("2024-01-01 00:00:01")


# ---------------------------------------------------------- error surface


def test_bad_regex_raises_eagerly(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="invalid regex"):
        db.search("ev", "[unclosed")


def test_unknown_table_lists_known(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="unknown table 'nope'"):
        db.table("nope")


def test_bad_timestamp_raises_eagerly(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="since="):
        db.search("ev", "err", since="not-a-date")


def test_missing_column_names_table_columns(db):
    from logdb_spark.api import LogDBError

    with pytest.raises(LogDBError, match="no_such_col"):
        db.top("ev", by="no_such_col")
    with pytest.raises(LogDBError, match="no_such_col"):
        db.search("ev", "x", columns=["no_such_col"])
    with pytest.raises(LogDBError, match="no_such_col"):
        db.tail("ev", ts_col="no_such_col")


def test_java_only_regex_still_accepted(db):
    # possessive quantifiers are Java-regex-only (Python re rejects
    # them) — validation must use the JVM dialect rlike executes
    assert db.search("ev", "err\\w*+").count() > 0


@pytest.fixture(scope="module")
def db_docs(spark):
    db = LogDB(spark)
    db.ingest_parquet(f"{SF_SMALL}/documents.parquet", "docs")
    db.ingest_parquet(f"{SF_SMALL}/events.parquet", "ev2")
    return db


def test_search_ranked_bm25_matches_operator(db_docs, spark):
    """The facade ranks exactly like text_search_bm25 and
    text_search_ranked for both scorers and every workload query: same
    top-10 doc ids in the same order, and the same scores once rounded
    the way the operators round them."""
    from logdb_spark.operators.llm import _SEARCH_K, _SEARCH_QUERIES
    from logdb_spark.registry import all_operators

    ops = all_operators()
    for scorer, op_name in (("bm25", "text_search_bm25"), ("tfidf", "text_search_ranked")):
        op = ops[op_name].fn(spark, SF_SMALL).collect()
        for qname, qterms in _SEARCH_QUERIES:
            hits = db_docs.search_ranked(
                "docs", qterms, k=_SEARCH_K, id_col="doc_id", scorer=scorer
            ).select("doc_id", ratio("score").alias("score"))
            want = sorted(
                (r["rank"], r["doc_id"], r["score"])
                for r in op
                if r["query"] == qname
            )
            assert want, (scorer, qname)
            assert [(r["doc_id"], r["score"]) for r in hits.collect()] == [
                (doc_id, score) for _, doc_id, score in want
            ], (scorer, qname)


def test_tfidf_absent_term_contributes_nothing(db_docs, spark):
    """A tf·idf query term that no document contains adds zero to every
    score (idf uses max(df, 1), never ln(N/0)): the facade and a
    multi-query kernel call return the same hits with and without it,
    and raise nothing."""
    from logdb_spark.operators.llm import ranked_top_k

    terms = ["hash", "join"]
    absent = terms + ["zzz-not-in-corpus"]

    def rows(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]

    base = rows(db_docs.search_ranked("docs", terms, id_col="doc_id", scorer="tfidf"))
    assert base
    assert rows(
        db_docs.search_ranked("docs", absent, id_col="doc_id", scorer="tfidf")
    ) == base
    with_absent, without = ranked_top_k(
        db_docs.table("docs"),
        [absent, terms],
        scorer="tfidf",
        k=10,
        text_col="text",
        id_col="doc_id",
    )
    assert rows(with_absent) == rows(without) == base


def test_search_ranked_validates(db_docs):
    with pytest.raises(ValueError):
        db_docs.search_ranked("docs", [])
    with pytest.raises(ValueError):
        db_docs.search_ranked("docs", ["x"], scorer="cosine")


def test_lifecycle_stage_identity(db_docs):
    """new + retained + resurrected == active on every day."""
    rows = db_docs.lifecycle("ev2").collect()
    assert rows
    for r in rows:
        assert (
            r["new_users"] + r["retained_users"] + r["resurrected_users"]
            == r["active_users"]
        )


def test_catalog_stats_shape(db_docs):
    rows = db_docs.catalog_stats({"docs": "doc_id", "ev2": "event_id"}).collect()
    by = {r["table_name"]: r for r in rows}
    assert by["docs"]["n_rows"] == by["docs"]["n_distinct_key"]
    assert by["ev2"]["n_null_key"] == 0


def test_lifecycle_matches_operator(db_docs, spark):
    """lifecycle over the events fixture, with its day formatted as the
    operator formats it, is log_user_lifecycle_stages row for row; the
    facade keeps day a date, ordered."""
    from pyspark.sql.types import DateType

    from logdb_spark.registry import all_operators

    got = db_docs.lifecycle("ev2")
    assert isinstance(got.schema["day"].dataType, DateType)
    rows = got.collect()
    assert [r["day"] for r in rows] == sorted(r["day"] for r in rows)
    op = all_operators()["log_user_lifecycle_stages"].fn(spark, SF_SMALL)
    formatted = got.withColumn("day", F.date_format("day", "yyyy-MM-dd"))
    assert formatted.schema == op.schema
    assert formatted.collect() == sorted(op.collect(), key=lambda r: r["day"])


def test_sessionize_matches_operator(db_docs, spark):
    """sessionize over second-truncated ts, bounds formatted as strings,
    is stream_session_window row for row; the facade keeps its bounds
    timestamps."""
    from pyspark.sql.types import TimestampType

    from logdb_spark.functions.temporal import ts_str
    from logdb_spark.registry import all_operators

    db_docs.register(
        "ev2_s", db_docs.table("ev2").withColumn("ts", F.date_trunc("second", "ts"))
    )
    got = db_docs.sessionize("ev2_s", gap="30 minutes")
    assert isinstance(got.schema["session_start"].dataType, TimestampType)
    assert isinstance(got.schema["session_end"].dataType, TimestampType)
    formatted = got.select(
        "user_id",
        ts_str("session_start").alias("session_start"),
        ts_str("session_end").alias("session_end"),
        "n_events",
    )
    op = all_operators()["stream_session_window"].fn(spark, SF_SMALL)
    assert formatted.schema == op.schema
    assert sorted(formatted.collect()) == sorted(op.collect())


def test_catalog_stats_matches_operator(db_docs, spark):
    """catalog_stats over the operator's ten tables and keys is
    scan_catalog_stats row for row, in the same order."""
    from logdb_spark.operators.scans import _CATALOG_KEYS
    from logdb_spark.registry import all_operators
    from logdb_spark.sources.load import load_table

    db = LogDB(spark)
    for t in _CATALOG_KEYS:
        db.register(t, load_table(spark, SF_SMALL, t))
    got = db.catalog_stats(_CATALOG_KEYS)
    op = all_operators()["scan_catalog_stats"].fn(spark, SF_SMALL)
    assert got.schema == op.schema
    assert got.collect() == op.collect()
