"""The benchmark workloads, each a closed loop with one client.

Every workload follows the same life cycle, driven by ``run.py``:
``setup(spark)`` and ``warm()`` (both inside the timed set-up),
``run(seconds, tracer)`` (the measured loop, a fixed amount of work
sized from ``seconds``; returns a ``Phase``) and ``check(outcomes)``
(the output checks, outside every timed region). All calls go through
the public surface of ``logdb_spark``: the ``LogDB`` facade, registry
operators, ``tablefmt.TxTable`` / ``write_grouped`` and the
``txlogstream`` source.

Inputs are the sf0.1 fixture tables under ``fixtures/sf0.1`` (byte
copies of the generated test fixtures described in FIXTURES.md). The
seed drives only what is built from them: the interactive request mix
and its parameters, and the ingest micro-batch slicing, snapshot reads
and deletes.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from spans import NullTracer, Outcomes

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.1")

# Short read-only registry operators for the interactive mix: a few
# from each of the modules the facade sits beside, plus one Arrow
# (pandas) UDF so the Python-worker boundary is on a measured path.
# None writes, persists or probes the driver while building; each
# matches its DuckDB oracle on the fixtures.
INTERACTIVE_OPS = (
    "log_tail_sampling",
    "agg_count_distinct",
    "win_percent_of_total",
    "filter_like_regex",
    "join_left_semi",
    "join_inner_equi",
    "set_union_by_name_evolution",
    "sql_q6_forecast_revenue",
    "udf_pandas_vectorized",
)

FACADE_KINDS = (
    "search",
    "search_range",
    "tail",
    "histogram",
    "top",
    "sessionize",
    "search_ranked",
    "lifecycle",
    "sql",
)

# Table-maintenance operator of the ingest loop: the cheapest of the
# candidates. table_compact_binpack, table_merge_on_read_delete and
# table_cdf_apply_downstream take 3-9 s a call on 4 cores.
MAINTENANCE_OPS = ("table_vacuum_delete",)

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEARCH_PATTERNS = (
    ("error", None),
    ("^(click|view)$", ["event_type"]),
    ("purchase|signup", ["event_type"]),
    ('"k": [1-3][0-9]}', ["props"]),
    ("^s", ["event_type"]),
    ('"k": 7', None),
)
# The change feed reads data files with pyarrow, which decodes Spark's
# INT96 timestamps as nanoseconds, a type Spark's Arrow reader refuses;
# the consumer therefore projects the non-timestamp columns.
FEED_COLUMNS = "event_id,user_id,event_type,value,props"
HIST_BUCKETS = ("15 minutes", "1 hour", "6 hours", "1 day")
SESSION_GAPS = ("30 minutes", "2 hours", "6 hours")


def noop(df) -> None:
    """Execute a DataFrame fully without moving rows to the driver."""
    df.write.mode("overwrite").format("noop").save()


@dataclass
class Phase:
    """What one measured loop produced."""

    latencies_ms: list[float] = field(default_factory=list)
    read_ms: list[float] = field(default_factory=list)
    elapsed_s: float = 0.0
    cpu_s: float = 0.0  # CPU time of the process tree, set by run.py
    extra: dict = field(default_factory=dict)
    outcomes: Outcomes = field(default_factory=Outcomes)


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000


def _units(seconds: float, unit_s: float) -> int:
    """How many units of work of about ``unit_s`` seconds fit in
    ``seconds``: a count fixed by the arguments, so every run of a
    workload does the same work however long it takes."""
    return max(1, int(seconds / unit_s + 0.5))


# ------------------------------------------------------------ interactive


def vocabulary(data_dir: str) -> list[str]:
    """The distinct words of the documents corpus, sorted."""
    texts = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    return sorted({w for t in texts["text"].to_pylist() for w in t.split()})


def facade_params(rng: random.Random, kind: str, vocab: list[str]) -> dict:
    """Seeded parameters for one facade request."""
    if kind in ("search", "search_range"):
        pattern, cols = rng.choice(SEARCH_PATTERNS)
        p = {"pattern": pattern, "columns": cols}
        if kind == "search_range":
            day, span = rng.randint(1, 27), rng.randint(1, 72)
            start = np.datetime64("2024-01-01T00") + np.timedelta64(
                (day - 1) * 24 + rng.randint(0, 23), "h"
            )
            p["since"] = str(start).replace("T", " ") + ":00:00"
            p["until"] = (
                str(start + np.timedelta64(span, "h")).replace("T", " ") + ":00:00"
            )
        return p
    if kind == "tail":
        return {"n": rng.choice((10, 20, 50, 100))}
    if kind == "histogram":
        return {
            "bucket": rng.choice(HIST_BUCKETS),
            "by": rng.choice((None, "event_type")),
        }
    if kind == "top":
        return {
            "by": rng.choice(("user_id", "event_type")),
            "n": rng.choice((5, 10, 20)),
            "metric": rng.choice(("count", "value")),
        }
    if kind == "sessionize":
        return {"gap": rng.choice(SESSION_GAPS)}
    if kind == "search_ranked":
        return {"terms": rng.sample(vocab, rng.randint(1, 3)), "k": rng.choice((5, 10, 20))}
    if kind == "sql":
        day = rng.randint(1, 29)
        return {
            "since": f"2024-01-{day:02d} 00:00:00",
            "event_type": rng.choice(EVENT_TYPES),
        }
    return {}


def facade_call(db, kind: str, p: dict):
    if kind == "search":
        return db.search("events", p["pattern"], columns=p["columns"])
    if kind == "search_range":
        return db.search(
            "events", p["pattern"], columns=p["columns"],
            since=p["since"], until=p["until"],
        )
    if kind == "tail":
        return db.tail("events", n=p["n"])
    if kind == "histogram":
        return db.histogram("events", bucket=p["bucket"], by=p["by"])
    if kind == "top":
        return db.top("events", by=p["by"], n=p["n"], metric=p["metric"])
    if kind == "sessionize":
        return db.sessionize("events", gap=p["gap"])
    if kind == "search_ranked":
        return db.search_ranked("documents", p["terms"], k=p["k"], id_col="doc_id")
    if kind == "lifecycle":
        return db.lifecycle("events")
    if kind == "sql":
        return db.sql(sql_text(p))
    raise ValueError(kind)


def sql_text(p: dict) -> str:
    return (
        "SELECT user_id, count(*) AS n, count(DISTINCT event_type) AS kinds "
        f"FROM events WHERE ts >= TIMESTAMP '{p['since']}' "
        f"AND event_type <> '{p['event_type']}' "
        "GROUP BY user_id HAVING count(*) > 3"
    )


class Interactive:
    """Seeded stream of short read-only requests: half facade calls,
    half registry operators, in blocks that hold every kind once."""

    name = "interactive"
    # Seconds one block of requests takes on a warm 4-core host.
    BLOCK_S = 10.0
    WARM_THREADS = 4

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed
        self.vocab = vocabulary(data_dir)

    def setup(self, spark) -> None:
        """Register the tables."""
        from logdb_spark.api import LogDB
        from logdb_spark.registry import all_operators

        self.spark = spark
        self.ops = all_operators()
        self.db = LogDB(spark)
        self.db.ingest_parquet(f"{self.data_dir}/events.parquet", "events")
        self.db.ingest_parquet(f"{self.data_dir}/documents.parquet", "documents")

    def warm(self, full: bool = False) -> None:
        """Run every request kind once (JIT, codegen and file-listing
        caches), so the measured loop sees a warm process. The cold
        requests run four at a time, which cut the warm-up from 21 s
        to 14 s on 4 cores."""
        from concurrent.futures import ThreadPoolExecutor

        rng = random.Random(self.seed)
        requests = [self._build(rng, kind) for kind in FACADE_KINDS + INTERACTIVE_OPS]
        with ThreadPoolExecutor(self.WARM_THREADS) as pool:
            list(pool.map(lambda r: self._request(NullTracer(), Phase(), 0, *r), requests))

    def _build(self, rng: random.Random, kind: str):
        if kind in FACADE_KINDS:
            p = facade_params(rng, kind, self.vocab)
            return kind, "api", lambda: facade_call(self.db, kind, p)
        op = self.ops[kind]
        return kind, "operators", lambda: op.fn(self.spark, self.data_dir)

    def blocks(self, rng: random.Random, n: int):
        """``n`` blocks of the seeded request stream: each block holds
        every request kind once, in seeded order with seeded
        parameters."""
        kinds = list(FACADE_KINDS + INTERACTIVE_OPS)
        for _ in range(n):
            rng.shuffle(kinds)
            yield [self._build(rng, kind) for kind in kinds]

    def _request(self, tracer, ph: Phase, req: int, kind, layer, build) -> None:
        t0 = time.perf_counter()
        try:
            with tracer.span("request", kind, req):
                with tracer.span(layer, kind, req):
                    df = build()
                t1 = time.perf_counter()
                with tracer.span("exec", kind, req):
                    noop(df)
        except Exception as e:  # a failed request is counted, not fatal
            ph.outcomes.fail(kind, f"{type(e).__name__}: {e}"[:300])
            return
        ph.latencies_ms.append(_ms(t0))
        ph.read_ms.append(_ms(t1))
        ph.outcomes.ok()
        ph.extra.setdefault("by_kind_ms", {}).setdefault(kind, []).append(
            round(ph.latencies_ms[-1], 1)
        )

    def run(self, seconds: float, tracer=NullTracer()) -> Phase:
        ph = Phase()
        t_start = time.perf_counter()
        req = 0
        for block in self.blocks(random.Random(self.seed), _units(seconds, self.BLOCK_S)):
            for request in block:
                req += 1
                self._request(tracer, ph, req, *request)
        ph.elapsed_s = time.perf_counter() - t_start
        return ph

    def check(self, outcomes: Outcomes) -> None:
        import checks

        rng = random.Random(self.seed)
        todo = [
            lambda kind=kind, p=facade_params(rng, kind, self.vocab):
                checks.facade(self.db, self.data_dir, kind, p, outcomes)
            for kind in FACADE_KINDS
        ]
        todo += [
            lambda name=name: checks.operator(self.spark, self.ops[name], self.data_dir, outcomes)
            for name in rng.sample(sorted(INTERACTIVE_OPS), 2)
        ]
        checks.run_all(todo)


# ----------------------------------------------------------------- ingest


def slice_batches(data_dir: str, out_dir: str, seed: int, lo=500, hi=2500) -> list[dict]:
    """Cut ``events`` into consecutive seeded micro-batches, one
    parquet file each: the files a log shipper would hand the writer."""
    events = pq.read_table(f"{data_dir}/events.parquet")
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    batches, start, i = [], 0, 0
    while start < events.num_rows:
        n = min(rng.randint(lo, hi), events.num_rows - start)
        path = os.path.join(out_dir, f"batch{i:04d}.parquet")
        pq.write_table(events.slice(start, n), path)
        batches.append({"path": path, "lo": start, "hi": start + n, "bytes": os.path.getsize(path)})
        start, i = start + n, i + 1
    return batches


class Ingest:
    """Seeded micro-batch appends into a TxTable, each followed by a
    snapshot read. Every ``DELETE_EVERY``-th append is followed by a
    copy-on-write delete. After the last append, one availableNow
    trigger of the txlogstream change-feed consumer and one
    table-maintenance operator run, and the run ends with a vacuum.
    The set-up's appends, reads and delete go into the same table."""

    name = "ingest"
    DELETE_EVERY = 4
    CHECKPOINT_INTERVAL = 4
    GROUPS = 2
    # Appends per 10 s of --seconds. An append with its snapshot read
    # takes under a second on a 4-core host; the feed and maintenance
    # call at the end take 15-20 s more.
    APPENDS_PER_10S = 6
    # Append cycles of the warm-up. Append latency falls by a quarter
    # over the first twenty appends of a fresh JVM; warming the write,
    # read and delete paths first keeps that drift out of the loop.
    WARM_APPENDS = 4

    def __init__(self, data_dir: str, seed: int, work: str):
        self.data_dir = data_dir
        self.seed = seed
        self.work = work
        self.batches = slice_batches(data_dir, os.path.join(work, "batches"), seed)
        ev = pq.read_table(
            f"{data_dir}/events.parquet", columns=["user_id", "event_type", "value"]
        )
        self.user = ev["user_id"].to_numpy()
        self.etype = np.asarray(ev["event_type"].to_pylist())
        self.cents = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
        self.tables = 0
        self.maint_results: dict = {}  # operator name -> its last result

    def setup(self, spark) -> None:
        """A new, empty table, then the first append and its read."""
        from logdb_spark.registry import all_operators
        from logdb_spark.sources.txlogstream import register_txlogstream
        from logdb_spark.tablefmt import TxTable

        self.spark = spark
        self.ops = all_operators()
        register_txlogstream(spark)
        self.tables += 1
        self.root = os.path.join(self.work, f"table{self.tables}")
        self.feed_ck = os.path.join(self.work, f"feed-checkpoint{self.tables}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.tx = TxTable(spark, self.root)
        self.present = np.zeros(len(self.user), dtype=bool)
        self.files: dict[str, tuple[int, int, int]] = {}  # path -> (lo, hi, g)
        self.next_batch = 0
        self.step = 0
        self.bytes_seen: dict[tuple, int] = {}
        self.input_bytes = 0  # parquet bytes of every batch appended
        self.feed_pending = 0
        self.feed_from = 0  # version the feed's first trigger reads after
        self.fed = False
        self._append(NullTracer(), Phase(), 0)
        self._read(NullTracer(), Phase(), 0, random.Random(self.seed))

    def warm(self, full: bool = False) -> None:
        """``WARM_APPENDS`` cycles of the loop's appends, reads and
        deletes. With ``full``, also one feed and one maintenance call,
        so the loop's first ones run warm; otherwise they are cold
        alike in every run."""
        rng = random.Random(-self.seed)
        for i in range(1, self.WARM_APPENDS + 1):
            self._append(NullTracer(), Phase(), 0)
            self._read(NullTracer(), Phase(), 0, rng)
            if i % self.DELETE_EVERY == 0:
                self._delete(NullTracer(), Phase(), 0, rng)
        if full:
            self._feed(NullTracer(), Phase(), 0)
            self._maintain(NullTracer(), Phase(), 0, MAINTENANCE_OPS[0])

    def _batch_df(self, b: dict):
        from pyspark.sql import functions as F

        from logdb_spark.sources.load import normalize_ts

        df = normalize_ts(self.spark.read.parquet(b["path"]))
        return df.withColumn("g", F.col("user_id") % self.GROUPS)

    def _commit(self, tracer, ph: Phase, req, adds, removes=()) -> None:
        self.step += 1
        txn = f"step-{self.step}"
        with tracer.span("tablefmt", "committed_txn_ids", req):
            if txn in self.tx.committed_txn_ids():
                raise RuntimeError(f"{txn} already committed")
        with tracer.span("tablefmt", "commit", req):
            _, conflicts = self.tx.commit(
                adds, removes, meta={"txn_id": txn, "ts": self.step}
            )
        t0 = time.perf_counter()
        with tracer.span("tablefmt", "checkpoint", req):
            written = self.tx.maybe_checkpoint(self.CHECKPOINT_INTERVAL)
        if written is not None:
            ph.extra.setdefault("checkpoint_ms", []).append(_ms(t0))
        ph.extra["conflicts"] = ph.extra.get("conflicts", 0) + conflicts

    def _append(self, tracer, ph: Phase, req: int) -> float:
        from logdb_spark.tablefmt import write_grouped

        b = self.batches[self.next_batch]
        self.next_batch += 1
        df = self._batch_df(b)
        t0 = time.perf_counter()
        with tracer.span("tablefmt", "write_grouped", req):
            adds = write_grouped(df, self.root, f"b{self.next_batch:05d}", "event_id")
        self._commit(tracer, ph, req, adds)
        ms = _ms(t0)
        self.present[b["lo"]:b["hi"]] = True
        for a in adds:
            self.files[a["path"]] = (b["lo"], b["hi"], int(a["path"].rsplit("=", 1)[1]))
        self.feed_pending += sum(a["rows"] for a in adds)
        ph.extra["rows"] = ph.extra.get("rows", 0) + (b["hi"] - b["lo"])
        self.input_bytes += b["bytes"]
        return ms

    def _rows_of(self, lo: int, hi: int, g: int) -> np.ndarray:
        idx = np.arange(lo, hi)
        return idx[self.present[lo:hi] & (self.user[lo:hi] % self.GROUPS == g)]

    def _read(self, tracer, ph: Phase, req: int, rng: random.Random) -> None:
        from pyspark.sql import functions as F

        pruned = rng.random() < 0.5
        hi_id = int(np.flatnonzero(self.present).max())
        lo_q = rng.randint(0, hi_id)
        hi_q = min(hi_id, lo_q + rng.randint(500, 5000))
        t0 = time.perf_counter()
        with tracer.span("tablefmt", "read_pruned" if pruned else "read", req):
            if pruned:
                files, _ = self.tx.prune("event_id", lo_q, hi_q)
                df = self.tx.read(files=files).filter(
                    F.col("event_id").between(lo_q, hi_q)
                )
            else:
                df = self.tx.read()
        with tracer.span("exec", "snapshot_count", req):
            n = df.count()
        ph.read_ms.append(_ms(t0))
        want = int(self.present[lo_q:hi_q + 1].sum()) if pruned else int(self.present.sum())
        ph.outcomes.check("snapshot_read", n == want, f"read {n} rows, expected {want}")

    def _delete(self, tracer, ph: Phase, req: int, rng: random.Random) -> None:
        """Copy-on-write delete of one seeded event type from one live
        data file."""
        from pyspark.sql import functions as F

        from logdb_spark.sources.load import normalize_ts
        from logdb_spark.tablefmt import write_grouped

        live = [e for e in self.tx.live_files() if e.get("kind", "data") == "data"]
        victim = rng.choice(live)
        drop = rng.choice(EVENT_TYPES)
        lo, hi, g = self.files.pop(victim["path"])
        with tracer.span("tablefmt", "cow_delete", req):
            df = normalize_ts(
                self.spark.read.parquet(os.path.join(self.root, victim["path"]))
            ).filter(F.col("event_type") != drop).withColumn("g", F.lit(g))
            adds = write_grouped(df, self.root, f"d{self.step + 1:05d}", "event_id")
            self._commit(tracer, ph, req, adds, removes=[victim])
        gone = self._rows_of(lo, hi, g)
        self.present[gone[self.etype[gone] == drop]] = False
        for a in adds:
            self.files[a["path"]] = (lo, hi, g)
        self.feed_pending += sum(a["rows"] for a in adds) + victim["rows"]
        ph.outcomes.ok()

    def _feed(self, tracer, ph: Phase, req: int) -> None:
        """Incremental change-feed consumer: one availableNow trigger of
        a txlogstream stream whose checkpoint remembers how far the
        previous trigger read."""
        t0 = time.perf_counter()
        with tracer.span("streaming", "feed", req):
            q = (
                self.spark.readStream.format("txlogstream")
                .option("path", self.root)
                .option("mode", "cdf")
                .option("columns", FEED_COLUMNS)
                .option("from_version", str(self.feed_from))
                .load()
                .writeStream.format("noop")
                .option("checkpointLocation", self.feed_ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        ph.extra.setdefault("feed_ms", []).append(_ms(t0))
        ph.extra["feed_rows"] = ph.extra.get("feed_rows", 0) + rows
        ph.outcomes.check(
            "feed", rows == self.feed_pending,
            f"feed read {rows} change rows, expected {self.feed_pending}",
        )
        self.feed_pending = 0
        self.fed = True

    def _maintain(self, tracer, ph: Phase, req: int, name: str) -> None:
        t0 = time.perf_counter()
        with tracer.span("maintenance", name, req):
            with tracer.span("operators", name, req):
                df = self.ops[name].fn(self.spark, self.data_dir)
            with tracer.span("exec", name, req):
                noop(df)
        ph.extra.setdefault("maint_ms", {}).setdefault(name, []).append(_ms(t0))
        ph.outcomes.ok()
        self.maint_results[name] = df

    def _track_bytes(self) -> None:
        """Every file ever written under the table root, keyed by path,
        size and mtime, so rewrites and replaced pointers count again."""
        for d, _, names in os.walk(self.root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                self.bytes_seen[(p, st.st_size, st.st_mtime_ns)] = st.st_size

    def run(self, seconds: float, tracer=NullTracer()) -> Phase:
        ph = Phase()
        rng = random.Random(self.seed)
        appends = self.APPENDS_PER_10S * _units(seconds, 10.0)
        appends = min(appends, len(self.batches) - self.next_batch)
        if not self.fed:
            # The feed reads the loop's commits only, however many the
            # set-up made.
            self.feed_from = self.tx.latest_version()
            self.feed_pending = 0
        t_start = time.perf_counter()
        for req in range(1, appends + 1):
            with tracer.span("request", "append", req):
                ph.latencies_ms.append(self._append(tracer, ph, req))
            ph.outcomes.ok()
            self._read(tracer, ph, req, rng)
            with tracer.span("tablefmt", "live_files", req):
                self.tx.live_files()
            self._track_bytes()
            if req % self.DELETE_EVERY == 0:
                with tracer.span("request", "delete", req):
                    self._delete(tracer, ph, req, rng)
                self._track_bytes()
        self._feed(tracer, ph, appends)
        for name in MAINTENANCE_OPS:
            self._maintain(tracer, ph, appends, name)
        with tracer.span("tablefmt", "vacuum", appends):
            t0 = time.perf_counter()
            self.tx.vacuum(before_ts=self.step + 1)
            ph.extra["vacuum_ms"] = _ms(t0)
        ph.elapsed_s = time.perf_counter() - t_start
        self._track_bytes()
        ph.extra["bytes_written"] = sum(self.bytes_seen.values())
        ph.extra["input_bytes"] = self.input_bytes
        ph.extra["data_bytes_written"] = sum(
            n for (p, _, _), n in self.bytes_seen.items() if "/_txlog/" not in p
        )
        ph.extra["commits"] = self.step
        ph.extra["checkpoints"] = len(ph.extra.get("checkpoint_ms", []))
        log_dir = os.path.join(self.root, "_txlog")
        names = os.listdir(log_dir)
        ph.extra["log_files"] = len(names)
        ph.extra["log_bytes"] = sum(os.path.getsize(os.path.join(log_dir, n)) for n in names)
        return ph

    def check(self, outcomes: Outcomes) -> None:
        import checks

        checks.snapshot(self.tx, self.present, self.cents, outcomes)
        for name, df in sorted(self.maint_results.items()):
            checks.operator(self.spark, self.ops[name], self.data_dir, outcomes, result=df)


def make(name: str, seed: int, work: str):
    if name == "interactive":
        return Interactive(FIXTURES, seed)
    return Ingest(FIXTURES, seed, work)
