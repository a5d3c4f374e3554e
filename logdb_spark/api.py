"""LogDB — the user-facing facade of the engine.

The ergonomic surface a log-database user expects — ingest, search,
tail, time histograms, sessionize, stream — returning plain DataFrames
lazily: nothing executes until the caller acts, apart from timestamp
validation and the one stats action ``search_ranked`` folds into its
plan. All heavy lifting stays in Catalyst-optimized plans.

Four query methods validate their input and then call the same kernel
a registered operator runs, so the operator's DuckDB oracle pins them
too:

- ``search_ranked``: ``operators.llm.ranked_top_k`` (text_search_bm25,
  text_search_ranked);
- ``lifecycle``: ``operators.logops.lifecycle_stages``
  (log_user_lifecycle_stages);
- ``catalog_stats``: ``operators.scans.catalog_stats``
  (scan_catalog_stats);
- ``sessionize``: ``streaming.batch_equiv.session_counts``
  (stream_session_window).

``search``, ``tail``, ``histogram`` and ``top`` have no operator twin
and are built here.

    db = LogDB(spark)
    db.ingest_parquet("/data/events.parquet", "events")
    db.search("events", "error", columns=["event_type"],
              since="2024-01-02", until="2024-01-05")
    db.histogram("events", bucket="1 hour", by="event_type")
    db.sessionize("events", gap="30 minutes")
    db.sql("SELECT count(*) FROM events")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from logdb_spark.operators.llm import EmptyCorpus, ranked_top_k
from logdb_spark.operators.logops import lifecycle_stages
from logdb_spark.operators.scans import catalog_stats
from logdb_spark.plans.session import configure, get_spark
from logdb_spark.sources.load import normalize_ts
from logdb_spark.streaming.batch_equiv import session_counts


class LogDBError(ValueError):
    """User-input error surfaced eagerly with a plain message, instead
    of a Py4J stack trace at action time."""


class LogDB:
    """A session's log tables and the queries over them. ``search_ranked``,
    ``lifecycle``, ``catalog_stats`` and ``sessionize`` project the
    kernels of registered operators; ``search``, ``tail``,
    ``histogram`` and ``top`` have no operator twin."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = configure(spark or get_spark("logdb"))
        self._tables: dict[str, DataFrame] = {}

    # ------------------------------------------------------------ ingest

    def register(self, name: str, df: DataFrame) -> DataFrame:
        """Register a DataFrame as a queryable table."""
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def ingest_parquet(self, path: str, name: str) -> DataFrame:
        df = self.spark.read.parquet(path)
        # normalize event-time columns (nanos-long or naive-µs) to
        # session-TZ timestamps
        if "ts" in df.columns:
            df = normalize_ts(df)
        return self.register(name, df)

    def ingest_json(self, path: str, name: str, schema: str | None = None) -> DataFrame:
        reader = self.spark.read
        if schema:
            reader = reader.schema(schema)
        return self.register(name, reader.json(path))

    def ingest_loglines(
        self,
        path: str,
        name: str,
        pattern: str,
        fields: dict[str, str],
        ts_field: str | None = None,
        ts_format: str | None = None,
    ) -> DataFrame:
        """Grok-style ingestion: raw text lines -> regex groups -> typed
        columns. ``fields`` maps field name -> Spark type, in regex
        group order."""
        lines = self.spark.read.text(path)
        cols = [
            F.regexp_extract("value", pattern, i + 1).cast(t).alias(n)
            for i, (n, t) in enumerate(fields.items())
        ]
        df = lines.select(*cols)
        if ts_field:
            df = df.withColumn(
                ts_field, F.to_timestamp(ts_field, ts_format)
                if ts_format
                else F.to_timestamp(ts_field)
            )
        return self.register(name, df)

    # ------------------------------------------------------------- query

    # Input validation helpers — fail at call time with a plain
    # message; without these, a bad regex / table / timestamp surfaces
    # as a Py4J stack trace only when an action finally runs (or, for
    # a non-ANSI timestamp cast, silently matches nothing).

    def _check_regex(self, pattern: str) -> None:
        jvm = self.spark._jvm  # noqa: SLF001 — JVM regex IS the rlike dialect
        try:
            jvm.java.util.regex.Pattern.compile(pattern)
        except Exception as exc:  # Py4JJavaError, kept import-free
            jexc = getattr(exc, "java_exception", None)
            msg = str(jexc.getMessage() if jexc is not None else exc)
            first = msg.strip().splitlines()[0] if msg.strip() else "syntax error"
            raise LogDBError(f"invalid regex {pattern!r}: {first}") from None

    def _check_timestamp(self, value: str, param: str) -> None:
        row = self.spark.sql(
            "SELECT try_cast(? AS TIMESTAMP) AS t", args=[value]
        ).first()
        if row.t is None:
            raise LogDBError(
                f"{param}={value!r} is not a parseable timestamp "
                "(expected e.g. '2024-01-02' or '2024-01-02 03:04:05')"
            )

    def _check_columns(self, df: DataFrame, name: str, *cols: str) -> None:
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise LogDBError(
                f"column(s) {missing} not in table {name!r} "
                f"(has: {df.columns})"
            )

    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        try:
            return self.spark.table(name)
        except AnalysisException:
            known = sorted(self._tables) + [
                t.name for t in self.spark.catalog.listTables()
            ]
            raise LogDBError(
                f"unknown table {name!r} (registered: {sorted(set(known))})"
            ) from None

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def search(
        self,
        name: str,
        pattern: str,
        columns: list[str] | None = None,
        since: str | None = None,
        until: str | None = None,
        ts_col: str = "ts",
    ) -> DataFrame:
        """grep over a log table: regex match on the given string
        columns (default: all string columns), optional time range.
        The time predicates push down to the scan; the regex runs
        codegen'd on the survivors."""
        df = self.table(name)
        self._check_regex(pattern)
        if columns:
            self._check_columns(df, name, *columns)
        if since or until:
            self._check_columns(df, name, ts_col)
        if since:
            self._check_timestamp(since, "since")
            df = df.filter(F.col(ts_col) >= F.lit(since).cast("timestamp"))
        if until:
            self._check_timestamp(until, "until")
            df = df.filter(F.col(ts_col) < F.lit(until).cast("timestamp"))
        str_cols = columns or [c for c, t in df.dtypes if t == "string"]
        if not str_cols:
            raise LogDBError(f"no string columns to search in {name}")
        cond = None
        for c in str_cols:
            m = F.col(c).rlike(pattern)
            cond = m if cond is None else (cond | m)
        return df.filter(cond)

    def tail(self, name: str, n: int = 10, ts_col: str = "ts") -> DataFrame:
        """Most recent n records (bounded heap, not a global sort)."""
        df = self.table(name)
        self._check_columns(df, name, ts_col)
        return df.orderBy(F.col(ts_col).desc()).limit(n)

    def histogram(
        self,
        name: str,
        bucket: str = "1 hour",
        by: str | None = None,
        ts_col: str = "ts",
    ) -> DataFrame:
        """Time-bucketed event counts, optionally split by a column."""
        df = self.table(name)
        self._check_columns(df, name, *([ts_col, by] if by else [ts_col]))
        keys = [F.window(ts_col, bucket).start.alias("bucket")]
        if by:
            keys.append(F.col(by))
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n")).orderBy("bucket")

    def sessionize(
        self,
        name: str,
        gap: str = "30 minutes",
        user_col: str = "user_id",
        ts_col: str = "ts",
    ) -> DataFrame:
        """Per-user session windows with the given inactivity gap."""
        df = self.table(name)
        self._check_columns(df, name, user_col, ts_col)
        return session_counts(df, gap, user_col, ts_col)

    def top(
        self, name: str, by: str, n: int = 10, metric: str = "count"
    ) -> DataFrame:
        """Top-n groups by count (or sum of ``metric`` column)."""
        df = self.table(name)
        self._check_columns(df, name, *([by] if metric == "count" else [by, metric]))
        agg = (
            F.count(F.lit(1)).alias("value")
            if metric == "count"
            else F.sum(metric).alias("value")
        )
        return (
            df.groupBy(by)
            .agg(agg)
            .orderBy(F.col("value").desc(), F.col(by))
            .limit(n)
        )

    def search_ranked(
        self,
        name: str,
        terms: list[str],
        text_col: str = "text",
        k: int = 10,
        id_col: str | None = None,
        scorer: str = "bm25",
    ) -> DataFrame:
        """Ranked full-text retrieval over a document table: the top-k
        rows plus an unrounded ``score``, by BM25 (default; k1=1.2,
        b=0.75, RSJ idf) or raw tf-idf over whitespace tokens, ties
        broken by ``id_col`` (else the text). See ``ranked_top_k``."""
        if scorer not in ("bm25", "tfidf"):
            raise LogDBError(f"unknown scorer {scorer!r} (bm25|tfidf)")
        if not terms:
            raise LogDBError("terms must be non-empty")
        df = self.table(name)
        self._check_columns(df, name, *(
            [text_col, id_col] if id_col else [text_col]
        ))
        try:
            (hits,) = ranked_top_k(
                df, [terms], scorer=scorer, k=k, text_col=text_col, id_col=id_col
            )
        except EmptyCorpus:
            raise LogDBError(f"table {name!r} is empty") from None
        return hits

    def lifecycle(
        self, name: str, user_col: str = "user_id", ts_col: str = "ts"
    ) -> DataFrame:
        """Daily growth accounting: actives split into new / retained /
        resurrected, plus churned (yesterday's actives − today's
        retained)."""
        df = self.table(name)
        self._check_columns(df, name, user_col, ts_col)
        return lifecycle_stages(df, user_col, ts_col).orderBy("day")

    def catalog_stats(self, key_cols: dict[str, str]) -> DataFrame:
        """ANALYZE-style stats for registered tables: row count plus
        distinct/null counts of each table's probe key."""
        if not key_cols:
            raise LogDBError("key_cols must be non-empty")
        tables = {}
        for t, k in key_cols.items():
            df = self.table(t)
            self._check_columns(df, t, k)
            tables[t] = (df, k)
        return catalog_stats(tables)

    # ----------------------------------------------------------- stream

    def stream_parquet(self, path: str, schema) -> DataFrame:
        """Unbounded file-source over a directory (micro-batch replay)."""
        configure(self.spark)
        df = self.spark.readStream.schema(schema).parquet(path)
        if "ts" in df.columns:
            df = normalize_ts(df)
        return df
