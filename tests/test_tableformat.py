"""Physical-property tests for §2.O (transaction-log table format).

The oracle suite (tests/test_correctness.py) already hash-checks every
table-format operator's VALUES; these tests pin the PHYSICAL claims the
values alone cannot prove: copy-on-write leaves untouched files
byte-identical, data skipping actually scans fewer files, the commit
protocol is genuinely atomic-exclusive, and snapshot isolation holds
under concurrent append.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _dir_digest(path: str) -> str:
    """Order-stable digest of every data byte under a parquet dir."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{path}/**/*.parquet", recursive=True)):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def year_table(spark):
    from logdb_spark.operators.tableformat import _year_table

    return _year_table(spark, SF_SMALL)


def test_cow_delete_leaves_untouched_files_byte_identical(spark):
    """The COW contract: files without matches are NOT rewritten — the
    commit only swaps log references. Digest every untouched year-file
    before and after the delete (via the same _cow_delete_p_years path
    the operators use); any byte difference fails."""
    from logdb_spark.operators.tableformat import (
        _cow_delete_p_years,
        _year_table,
    )

    tx, adds = _year_table(spark, SF_SMALL)
    untouched = [
        a["path"]
        for a in adds
        if a["path"].split("=")[1] not in ("1996", "1999")
    ]
    before = {p: _dir_digest(os.path.join(tx.root, p)) for p in untouched}

    touched = _cow_delete_p_years(tx, (1996, 1999))
    assert touched == ["data1/g=1996", "data1/g=1999"]

    after = {p: _dir_digest(os.path.join(tx.root, p)) for p in untouched}
    assert before == after, "COW delete rewrote an untouched file"
    live = {e["path"] for e in tx.live_files()}
    assert "data1/g=1996" not in live and "rw1/g=1996" in live


def test_skipping_scan_reads_only_pruned_files(spark):
    """Data skipping must shrink the SCAN, not just the result: the
    pruned snapshot read's inputFiles() must touch only the selected
    octile dirs — 2 of 8."""
    from logdb_spark.sources.load import load_table
    from logdb_spark.sources.scratch import scratch_dir
    from logdb_spark.tablefmt import TxTable, write_grouped

    orders = load_table(spark, SF_SMALL, "orders")
    w = orders.agg(F.max("o_custkey")).first()[0] + 1
    keyed = orders.withColumn(
        "g", F.expr(f"CAST((o_custkey * 8) DIV {w} AS BIGINT)")
    )
    tx = TxTable(spark, scratch_dir("tt_skip_"))
    tx.commit(write_grouped(keyed, tx.root, "data1", "o_custkey"))
    lo, hi = (w * 5) // 16, (w * 7) // 16
    hit, total = tx.prune("o_custkey", lo, hi)
    assert total == 8 and len(hit) == 2
    hit_dirs = {e["path"] for e in hit}
    for f in tx.read(files=hit).inputFiles():
        assert any(f"/{d}/" in f for d in hit_dirs), f
    # and the pruned read misses no qualifying row vs the full scan
    full = tx.read().filter(F.col("o_custkey").between(lo, hi)).count()
    pruned = tx.read(files=hit).filter(F.col("o_custkey").between(lo, hi)).count()
    assert full == pruned > 0


def test_commit_create_is_exclusive(year_table):
    """Exactly one writer owns a version number: the second
    try_commit on the same version must raise CommitConflict and must
    NOT clobber the winner's commit document."""
    from logdb_spark.tablefmt import CommitConflict

    tx, _ = year_table
    parent = tx.latest_version()
    tx.try_commit(parent + 1, [{"path": "data1/g=1995"}])
    doc_before = open(tx._vpath(parent + 1)).read()
    with pytest.raises(CommitConflict):
        tx.try_commit(parent + 1, [{"path": "data1/g=1996"}])
    assert open(tx._vpath(parent + 1)).read() == doc_before


def test_snapshot_isolation_under_append(spark):
    """A reader pinned to version 1 sees identical results before and
    after a concurrent append commit — the time-travel guarantee the
    log exists to provide."""
    from logdb_spark.sources.load import load_table
    from logdb_spark.sources.scratch import scratch_dir
    from logdb_spark.tablefmt import TxTable, write_grouped

    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "g", F.year("o_orderdate")
    )
    tx = TxTable(spark, scratch_dir("tt_iso_"))
    v1, _ = tx.commit(
        write_grouped(orders.filter("g <= 1997"), tx.root, "a", "o_orderkey")
    )
    n_before = tx.read(as_of=v1).count()
    tx.commit(
        write_grouped(orders.filter("g > 1997"), tx.root, "b", "o_orderkey")
    )
    assert tx.read(as_of=v1).count() == n_before
    assert tx.read().count() > n_before


def test_compaction_preserves_content_and_shrinks_files(spark):
    """Compaction is a pure physical rewrite: the multiset of
    (o_orderkey) must be identical pre/post, and the live file count
    must drop to the bin count."""
    from logdb_spark.operators.tableformat import table_compact_binpack

    row = table_compact_binpack(spark, SF_SMALL).first()
    assert row["files_after"] < row["files_before"]
    assert row["files_before"] >= 70  # ~80 months of fixture data
    assert row["files_after"] <= 12  # cap rule packs into ~10-11 bins


def test_commit_never_visible_partial(spark, tmp_path, monkeypatch):
    """Atomic publication (r10 review finding): the version file must
    appear with its COMPLETE body — a reader between create and
    content-write must be impossible. The temp-then-link protocol
    guarantees it; simulate the old failure by asserting the commit
    doc parses immediately after any crash point BEFORE the link (the
    tmp file is private, so the log never sees it)."""
    import json

    from logdb_spark.tablefmt import TxTable

    tx = TxTable(spark, str(tmp_path))
    tx.commit([{"path": "a"}])
    # every visible version file must be complete JSON
    for c in tx.log_actions():
        assert c["add"] == [{"path": "a"}]
    # a failed json.dump must leave NO visible version file
    class Boom(Exception):
        pass

    def exploding_dump(*a, **k):
        raise Boom()

    monkeypatch.setattr(json, "dump", exploding_dump)
    with pytest.raises(Boom):
        tx.try_commit(2, [{"path": "b"}])
    monkeypatch.undo()
    assert tx.latest_version() == 1  # v2 never became visible
    assert not [
        f for f in os.listdir(tx.log_dir) if not f.startswith("v")
    ], "temp commit file leaked into the log dir"


def test_prune_keeps_files_with_missing_or_null_stats(spark, tmp_path):
    """Skipping conservatism (r10 review finding): absent or NULL
    stats for the queried column must KEEP the file, never crash or
    wrongly skip — e.g. pre-schema-evolution files queried on the
    evolved column."""
    from logdb_spark.tablefmt import TxTable

    tx = TxTable(spark, str(tmp_path))
    tx.commit(
        [
            {"path": "old", "rows": 5},  # no stats for 'x' at all
            {"path": "nul", "rows": 5, "min_x": None, "max_x": None},
            {"path": "in", "rows": 5, "min_x": 10, "max_x": 20},
            {"path": "out", "rows": 5, "min_x": 100, "max_x": 200},
        ]
    )
    hit, total = tx.prune("x", 0, 50)
    assert total == 4
    assert {e["path"] for e in hit} == {"old", "nul", "in"}


def test_attempt_unique_subdir_skips_leftovers(tmp_path):
    """Crash-retry safety (r10 review finding): a leftover data dir
    from a crash between write and commit must not block the retry —
    the writer picks the next attempt-suffixed path."""
    from logdb_spark.tablefmt import attempt_unique_subdir

    root = str(tmp_path)
    assert attempt_unique_subdir(root, "b0") == "b0"
    os.makedirs(os.path.join(root, "b0"))  # the orphaned leftover
    assert attempt_unique_subdir(root, "b0") == "b0_r1"
    os.makedirs(os.path.join(root, "b0_r1"))
    assert attempt_unique_subdir(root, "b0") == "b0_r2"


# ---- r11: checkpointing, bounded retries, ts travel, vacuum ----------


def _mini_log(tmp_path, n_commits=26, interval=10):
    """A pure-metadata log (replay math needs no real parquet): commit
    i adds path d/i with txn id t<i>; every 4th commit also removes
    the path added 3 commits earlier; checkpoint every ``interval``."""
    from logdb_spark.tablefmt import TxTable

    tx = TxTable(None, str(tmp_path / "tbl"))
    for i in range(1, n_commits + 1):
        removes = [f"d/{i - 3}"] if i % 4 == 0 and i > 3 else []
        tx.commit(
            [{"path": f"d/{i}", "rows": i}],
            removes=removes,
            meta={"ts": 100 * i, "txn_id": f"t{i}"},
        )
        tx.maybe_checkpoint(interval=interval)
    return tx


def test_checkpoint_read_equals_full_replay_everywhere(tmp_path):
    """The checkpoint contract: for EVERY version of a 26-commit log
    with interleaved removes, checkpoint-accelerated replay returns
    the identical live list (entries AND first-added order) as the
    full replay — plus the same txn-id set, ever-added paths, and
    tombstone map at head (checkpoint-seeded vs v1-seeded replay)."""
    tx = _mini_log(tmp_path)
    assert tx.checkpoint_versions() == [10, 20]
    for v in range(1, tx.latest_version() + 1):
        assert tx.live_files(v) == tx.live_files(v, use_checkpoint=False)
    assert tx.committed_txn_ids() == {f"t{i}" for i in range(1, 27)}
    assert tx.all_added_paths() == {f"d/{i}" for i in range(1, 27)}
    full = tx._replay(use_checkpoint=False, history=True)
    assert tx.tombstones() == full.tombstones


def test_checkpoint_bounds_tail_replay(tmp_path, monkeypatch):
    """A post-checkpoint read opens only the TAIL commit documents —
    the O(since-checkpoint) claim, pinned by counting log_actions'
    file opens."""
    from logdb_spark import tablefmt

    tx = _mini_log(tmp_path)
    opened = []
    real = tablefmt.TxTable.log_actions

    def counting(self, as_of=None, from_version=1):
        docs = real(self, as_of, from_version)
        opened.extend(c["version"] for c in docs)
        return docs

    monkeypatch.setattr(tablefmt.TxTable, "log_actions", counting)
    tx.live_files()  # head=26, newest checkpoint=20 → tail = 21..26
    assert opened == [21, 22, 23, 24, 25, 26]
    # A checkpoint-carried meta key is tail-bounded even when no commit
    # ever set it (no walk back to v1).
    opened.clear()
    assert tx.newest_meta("schema_map") is None
    assert opened == [21, 22, 23, 24, 25, 26]


def test_commit_retries_are_bounded(tmp_path, monkeypatch):
    """ADVICE r10: a writer that persistently loses the race must not
    livelock — commit() re-raises CommitConflict after max_retries."""
    from logdb_spark.tablefmt import CommitConflict, TxTable

    tx = TxTable(None, str(tmp_path / "tbl"))
    attempts = []

    def always_lose(version, adds, removes=(), meta=None):
        attempts.append(version)
        raise CommitConflict(version)

    monkeypatch.setattr(tx, "try_commit", always_lose)
    with pytest.raises(CommitConflict):
        tx.commit([{"path": "d/1"}], max_retries=5)
    assert len(attempts) == 6  # first try + 5 bounded retries


def test_resolve_ts_boundaries(tmp_path):
    from logdb_spark.tablefmt import TxTable

    tx = _mini_log(tmp_path, n_commits=5)  # stamps 100..500
    assert tx.resolve_ts(100) == 1  # inclusive boundary
    assert tx.resolve_ts(250) == 2  # strictly between
    assert tx.resolve_ts(10_000) == 5  # far future → head
    with pytest.raises(ValueError):
        tx.resolve_ts(99)  # before the first commit


def test_vacuum_cannot_delete_live_file(tmp_path, monkeypatch):
    """Force the impossible state (a live path in the tombstone map —
    unreachable through the API, since re-adding a path sheds its
    tombstone) and prove the pre-unlink invariant fires instead of
    deleting data a snapshot references."""
    from logdb_spark.tablefmt import TxTable

    tx = TxTable(None, str(tmp_path / "tbl"))
    tx.commit([{"path": "d/1"}], meta={"ts": 100})
    monkeypatch.setattr(tx, "tombstones", lambda: {"d/1": 100})
    with pytest.raises(RuntimeError, match="vacuum invariant"):
        tx.vacuum(before_ts=10_000)


def test_vacuum_kills_expired_time_travel_only(spark, tmp_path):
    """Physical vacuum semantics end-to-end on real files: after a COW
    delete (tombstone ts=2000) and vacuum(before 2500), the head
    snapshot is intact, but time travel to v1 — which references the
    vacuumed pre-image — fails at read; orphans younger than the
    horizon survive and v1 remains readable until they expire."""
    from logdb_spark.operators.tableformat import (
        _cow_delete_p_years,
        _orders_with_year,
    )
    from logdb_spark.tablefmt import TxTable, write_grouped

    tx = TxTable(spark, str(tmp_path / "tbl"))
    tx.commit(
        write_grouped(
            _orders_with_year(spark, SF_SMALL), tx.root, "data1", "o_orderkey"
        ),
        meta={"ts": 1000},
    )
    head_rows_before = tx.read().count()
    _cow_delete_p_years(tx, (1995, 2000), subdir="rw1", meta={"ts": 2000})
    deleted_rows = head_rows_before - tx.read().count()
    assert deleted_rows > 0

    # Inside retention: nothing deletable yet → v1 still time-travels.
    d0, r0 = tx.vacuum(before_ts=1500)
    assert d0 == [] and len(r0) == 2
    assert tx.read(as_of=1).count() == head_rows_before

    d1, r1 = tx.vacuum(before_ts=2500)
    assert len(d1) == 2 and r1 == []
    assert tx.read().count() == head_rows_before - deleted_rows
    # The pre-horizon read dies LOUDLY at plan time with the contract
    # error (r12 — it used to surface as a deep-in-the-scan
    # PATH_NOT_FOUND), and the post-horizon version stays readable.
    with pytest.raises(ValueError, match="read horizon"):
        tx.read(as_of=1)
    assert tx.read(as_of=2).count() == head_rows_before - deleted_rows
    # Idempotent accounting (ADVICE r11 #1): a second vacuum finds
    # nothing — the maintenance commit retired the tombstones.
    d2, r2 = tx.vacuum(before_ts=2500)
    assert d2 == [] and r2 == []
    assert tx.tombstones() == {}


def test_shallow_clone_leaves_source_bytes_untouched(spark, tmp_path):
    """The zero-copy claim, pinned at the byte level: after the clone
    diverges (COW delete under the clone root), every SOURCE data dir
    is byte-identical and the source log has gained no commits."""
    from logdb_spark.operators.tableformat import _orders_with_year
    from logdb_spark.tablefmt import TxTable, write_grouped

    src = TxTable(spark, str(tmp_path / "src"))
    adds = write_grouped(
        _orders_with_year(spark, SF_SMALL), src.root, "data1", "o_orderkey"
    )
    src.commit(adds)
    before = {
        a["path"]: _dir_digest(os.path.join(src.root, a["path"]))
        for a in adds
    }
    v_before = src.latest_version()

    clone = TxTable(spark, str(tmp_path / "clone"))
    clone.commit(
        [{**a, "path": os.path.join(src.root, a["path"])} for a in adds]
    )
    # Diverge: drop one whole year-file from the clone (metadata-only
    # here — the divergence mechanics are what this test pins).
    victim = os.path.join(src.root, adds[0]["path"])
    clone.commit([], removes=[victim])

    assert src.latest_version() == v_before
    after = {
        a["path"]: _dir_digest(os.path.join(src.root, a["path"]))
        for a in adds
    }
    assert after == before
    # The clone lost the file; the source still reads it.
    assert len(clone.live_files()) == len(adds) - 1
    assert len(src.live_files()) == len(adds)


def test_conflicting_removes_validation(tmp_path):
    """Rebase validation semantics: append-only transactions validate
    clean; a remove of a file another commit already removed (or
    rewrote away) is flagged; dict-form pre-image refs are accepted."""
    from logdb_spark.tablefmt import TxTable

    tx = TxTable(None, str(tmp_path / "tbl"))
    tx.commit([{"path": "d/1"}, {"path": "d/2"}, {"path": "d/3"}])
    parent = tx.latest_version()
    # Another writer removes d/2 (rewriting it to d/2b).
    tx.commit([{"path": "d/2b"}], removes=["d/2"])
    assert tx.conflicting_removes(parent, []) == []  # append-only: clean
    assert tx.conflicting_removes(parent, ["d/1", "d/3"]) == []
    assert tx.conflicting_removes(parent, ["d/2"]) == ["d/2"]
    assert tx.conflicting_removes(parent, [{"path": "d/2"}]) == ["d/2"]


def test_vacuum_never_deletes_foreign_paths(tmp_path):
    """Review r11 (data-loss bug caught pre-ship): a SHALLOW CLONE's
    tombstones reference the source table's files by absolute path;
    clone.vacuum must treat any path outside its own root as a shared
    file owned by another table — retained unconditionally, never
    rmtree'd — or vacuuming the clone destroys the source."""
    import json

    from logdb_spark.tablefmt import TxTable

    src = TxTable(None, str(tmp_path / "src"))
    shared_abs = str(tmp_path / "src" / "data1")
    os.makedirs(shared_abs)
    with open(os.path.join(shared_abs, "part.parquet"), "w") as f:
        json.dump({"stand-in": "bytes"}, f)
    src.commit([{"path": "data1"}], meta={"ts": 100})

    clone = TxTable(None, str(tmp_path / "clone"))
    clone.commit([{"path": shared_abs}], meta={"ts": 100})
    clone.commit([{"path": "own1"}], removes=[shared_abs], meta={"ts": 200})

    deleted, retained = clone.vacuum(before_ts=10_000)
    assert deleted == []  # foreign path: never eligible
    assert retained == [shared_abs]
    assert os.path.exists(shared_abs)  # the source's bytes survive

    # An OWNED orphan with the same retention stamps IS deleted — the
    # guard is about ownership, not a blanket refusal.
    own_abs = os.path.join(clone.root, "own1")
    os.makedirs(own_abs, exist_ok=True)
    clone.commit([{"path": "own2"}], removes=["own1"], meta={"ts": 300})
    deleted2, _ = clone.vacuum(before_ts=10_000)
    assert deleted2 == ["own1"] and not os.path.exists(own_abs)


def test_conflicting_removes_detects_remove_then_readd(tmp_path):
    """Review r11: validation must scan the post-parent REMOVE log,
    not current liveness — a path removed and then RE-ADDED after
    parent is live again, but the re-added file is a different
    version than the one the losing transaction read, so removing it
    blind would be a lost update."""
    from logdb_spark.tablefmt import TxTable

    tx = TxTable(None, str(tmp_path / "tbl"))
    tx.commit([{"path": "d/1"}, {"path": "d/2"}])
    parent = tx.latest_version()
    tx.commit([{"path": "d/2"}], removes=["d/2"])  # rewrite in place
    assert {e["path"] for e in tx.live_files()} == {"d/1", "d/2"}
    assert tx.conflicting_removes(parent, ["d/2"]) == ["d/2"]
    assert tx.conflicting_removes(parent, ["d/1"]) == []


def test_committed_txn_ids_custom_key_survives_checkpoint(tmp_path):
    """Review r11: the checkpoint aux doc indexes only meta.txn_id;
    a guard keyed on a different meta field must take the full log
    walk — substituting the aux set would both lose the caller's
    pre-checkpoint ids (replayed batch re-commits) and inject foreign
    ids."""
    from logdb_spark.tablefmt import TxTable

    tx = TxTable(None, str(tmp_path / "tbl"))
    for i in range(1, 13):
        tx.commit(
            [{"path": f"d/{i}"}],
            meta={"ts": i, "txn_id": f"t{i}", "batch_id": f"b{i}"},
        )
        tx.maybe_checkpoint(interval=10)
    assert tx.checkpoint_versions() == [10]
    assert tx.committed_txn_ids() == {f"t{i}" for i in range(1, 13)}
    assert tx.committed_txn_ids("batch_id") == {
        f"b{i}" for i in range(1, 13)
    }


def test_resolve_ts_checkpoint_bounded_and_equal(tmp_path, monkeypatch):
    """Review r11: resolve_ts used to scan the whole log; it now
    starts from the hot checkpoint's (max_ts, max_ts_version) marker.
    Pin (a) equality with the full-scan answer at every probe,
    including unstamped trailing commits that must not win, and
    (b) that a post-checkpoint probe opens only tail documents."""
    from logdb_spark import tablefmt

    tx = tablefmt.TxTable(None, str(tmp_path / "tbl"))
    for i in range(1, 25):
        # every third commit is UNSTAMPED (e.g. a maintenance commit)
        meta = {"ts": 100 * i} if i % 3 else {}
        tx.commit([{"path": f"d/{i}"}], meta=meta)
        tx.maybe_checkpoint(interval=10)
    assert tx.checkpoint_versions() == [10, 20]

    def full_scan(ts):
        best = 0
        for c in tx.log_actions():
            stamp = c.get("meta", {}).get("ts")
            if stamp is not None and stamp <= ts:
                best = max(best, c["version"])
        return best

    for probe in (100, 250, 301, 900, 1000, 2200, 2400, 99999):
        assert tx.resolve_ts(probe) == full_scan(probe), probe

    opened = []
    real = tablefmt.TxTable.log_actions

    def counting(self, as_of=None, from_version=1):
        docs = real(self, as_of, from_version)
        opened.extend(c["version"] for c in docs)
        return docs

    monkeypatch.setattr(tablefmt.TxTable, "log_actions", counting)
    tx.resolve_ts(99999)  # newest checkpoint = v20 → tail only
    assert opened == [21, 22, 23, 24]


# ---- r12: column mapping ------------------------------------------------


def test_column_mapping_rename_and_drop_mechanics(spark, tmp_path):
    """The physical claims behind table_column_mapping_rename: a
    rename/drop commit moves ZERO data bytes (file digests identical
    across both), old-generation files serve the renamed column, the
    dropped column's bytes remain on disk but leave the projection,
    and newest_meta resolves the map as of any version (time travel
    reads the OLD names before the rename)."""
    from logdb_spark.sources.load import load_table
    from logdb_spark.tablefmt import TxTable, write_grouped

    phys = (
        load_table(spark, SF_SMALL, "orders")
        .withColumn("g", F.year("o_orderdate"))
        .select(
            F.col("o_orderkey").alias("f1"),
            F.col("o_totalprice").alias("f2"),
            F.col("o_orderstatus").alias("f3"),
            "g",
        )
        .limit(400)
    )
    m1 = [
        {"id": 1, "phys": "f1", "name": "o_orderkey"},
        {"id": 2, "phys": "f2", "name": "o_totalprice"},
        {"id": 3, "phys": "f3", "name": "o_orderstatus"},
    ]
    tx = TxTable(spark, str(tmp_path / "tbl"))
    tx.commit(
        write_grouped(phys, tx.root, "c1", "f1"),
        meta={"schema_map": m1},
    )
    digest_before = _dir_digest(os.path.join(tx.root, "c1"))

    m2 = [{**e, "name": "price"} if e["id"] == 2 else e for e in m1]
    tx.commit([], meta={"schema_map": m2})
    m3 = [e for e in m2 if e["id"] != 3]
    tx.commit([], meta={"schema_map": m3})

    # zero data movement across rename AND drop
    assert _dir_digest(os.path.join(tx.root, "c1")) == digest_before
    assert tx.latest_version() == 3

    def read_mapped(as_of=None):
        smap = tx.newest_meta("schema_map", as_of=as_of)
        return tx.read(as_of=as_of).select(
            *[F.col(e["phys"]).alias(e["name"]) for e in smap]
        )

    head = read_mapped()
    assert head.columns == ["o_orderkey", "price"]
    # old (only) generation serves the renamed column with its values
    assert (
        head.agg(F.sum("price")).first()[0]
        == read_mapped(as_of=1).agg(F.sum("o_totalprice")).first()[0]
    )
    # time travel to v1 reads the PRE-rename names, v2 the renamed
    assert read_mapped(as_of=1).columns == [
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
    ]
    assert read_mapped(as_of=2).columns == [
        "o_orderkey",
        "price",
        "o_orderstatus",
    ]
    # dropped bytes still on disk (raw read sees f3), projection hides it
    raw = spark.read.parquet(os.path.join(tx.root, "c1"))
    assert "f3" in raw.columns and "o_orderstatus" not in head.columns
    # newest_meta with no such key
    assert tx.newest_meta("nope") is None


# ---- r12: reader protocol guard ----------------------------------------


def test_protocol_guard_gates_versions_and_features(tmp_path):
    """Metadata-only pins for TxTable protocol versioning: no protocol
    → no-op; supported features → pass; an unknown feature OR a
    future min_reader → UnsupportedTableFeature; newest protocol
    wins; the checkpoint hot doc carries it (guard survives log
    compaction)."""
    from logdb_spark.tablefmt import (
        READER_FEATURES,
        READER_VERSION,
        TxTable,
        UnsupportedTableFeature,
    )

    tx = TxTable(None, str(tmp_path / "tbl"))
    tx.commit([{"path": "d/1"}])
    tx.check_protocol()  # never declared: fine

    tx.commit(
        [],
        meta={"protocol": {"min_reader": 1, "features": ["read_horizon"]}},
    )
    tx.check_protocol()  # supported subset: fine

    tx.commit(
        [],
        meta={"protocol": {"min_reader": 1, "features": ["deletion_vectors"]}},
    )
    with pytest.raises(UnsupportedTableFeature, match="deletion_vectors"):
        tx.check_protocol()

    # newest wins: a later downgrade back to supported features passes
    tx.commit([], meta={"protocol": {"min_reader": 1, "features": []}})
    tx.check_protocol()

    # version gate, independent of features
    tx.commit(
        [],
        meta={
            "protocol": {"min_reader": READER_VERSION + 1, "features": []}
        },
    )
    with pytest.raises(UnsupportedTableFeature, match="version"):
        tx.check_protocol()

    # checkpoint carries the newest protocol; tail upgrades still win
    cp_v = tx.write_checkpoint()
    assert tx.protocol()["min_reader"] == READER_VERSION + 1
    import json

    with open(tx._cppath(cp_v)) as f:
        assert json.load(f)["protocol"]["min_reader"] == READER_VERSION + 1
    tx.commit(
        [],
        meta={
            "protocol": {
                "min_reader": 1,
                "features": sorted(READER_FEATURES),
            }
        },
    )
    tx.check_protocol()  # post-checkpoint tail downgrade visible again


# ---- r12: merge-on-read equality deletes --------------------------------


def _mor_table(spark, root):
    """Small MOR fixture: v1 data (keys 1..400 via orders limit), v2
    equality-delete of even o_orderkey, v3 re-insert of a deleted
    subset."""
    from logdb_spark.sources.load import load_table
    from logdb_spark.tablefmt import TxTable, write_grouped

    orders = (
        load_table(spark, SF_SMALL, "orders")
        .withColumn("g", F.year("o_orderdate"))
        .limit(400)
    )
    tx = TxTable(spark, root)
    tx.commit(write_grouped(orders, tx.root, "d1", "o_orderkey"))
    dels = (
        orders.filter("o_orderkey % 2 = 0")
        .select("o_orderkey", F.lit(0).alias("g"))
    )
    dv = write_grouped(dels, tx.root, "dv1", "o_orderkey")
    tx.commit([{**dv[0], "kind": "eq_delete", "key": "o_orderkey"}])
    reins = orders.filter("o_orderkey % 4 = 0")
    tx.commit(write_grouped(reins, tx.root, "d2", "o_orderkey"))
    return tx, orders


def test_mor_delete_sequence_semantics(spark, tmp_path):
    """The delete applies only to SMALLER-sequence data files: after
    deleting evens and re-inserting multiples of 4, the table holds
    odds + multiples of 4 — and time travel reads each era correctly
    (v1 = everything, v2 = odds only)."""
    tx, orders = _mor_table(spark, str(tmp_path / "tbl"))
    keys = {r[0] for r in tx.read().select("o_orderkey").collect()}
    expect = {
        r[0]
        for r in orders.filter(
            "o_orderkey % 2 = 1 OR o_orderkey % 4 = 0"
        ).select("o_orderkey").collect()
    }
    assert keys == expect
    assert tx.read(as_of=1).count() == 400
    v2_keys = {r[0] for r in tx.read(as_of=2).select("o_orderkey").collect()}
    assert v2_keys == {k for k in keys if k % 2 == 1}


def test_mor_delete_not_skippable_and_plan_broadcasts(spark, tmp_path):
    """Data skipping must retain eq_delete files unconditionally (a
    pruned delete resurrects rows), and the MOR scan applies deletes
    as BROADCAST hash anti-joins — no shuffle of the data side, no
    nested-loop."""
    tx, orders = _mor_table(spark, str(tmp_path / "tbl"))
    lo = orders.agg(F.min("o_orderkey")).first()[0]
    hit, total = tx.prune("o_orderkey", lo, lo)
    assert any(e.get("kind") == "eq_delete" for e in hit)
    plan = tx.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mor_delete_write_amplification(spark, tmp_path):
    """The reason MOR exists: the delete commit's bytes are a small
    fraction of what a COW rewrite of the touched files would move."""
    import glob

    tx, _ = _mor_table(spark, str(tmp_path / "tbl"))

    def dir_bytes(sub):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(f"{tx.root}/{sub}/**/*", recursive=True)
            if os.path.isfile(f)
        )

    assert dir_bytes("dv1") < 0.5 * dir_bytes("d1")


# ---- r13: protocol integration + as-of gating + cost router ------------


def test_protocol_as_of_resolution_and_horizon_with_files(tmp_path):
    """ADVICE r12 #3: check_protocol resolves the protocol AS OF the
    requested version (pre-upgrade snapshots stay readable), and
    protocol(as_of) returns each era's own protocol."""
    from logdb_spark.tablefmt import TxTable, UnsupportedTableFeature

    tx = TxTable(None, str(tmp_path / "tbl"))
    tx.commit([{"path": "d/1"}])  # v1: no protocol
    tx.commit(
        [],
        meta={"protocol": {"min_reader": 2, "features": ["read_horizon"]}},
    )  # v2: supported
    tx.commit(
        [],
        meta={"protocol": {"min_reader": 2, "features": ["deletion_vectors"]}},
    )  # v3: unsupported

    assert tx.protocol(as_of=1) is None
    assert tx.protocol(as_of=2)["features"] == ["read_horizon"]
    tx.check_protocol(as_of=1)
    tx.check_protocol(as_of=2)
    with pytest.raises(UnsupportedTableFeature):
        tx.check_protocol()
    with pytest.raises(UnsupportedTableFeature):
        tx.check_protocol(as_of=3)


def test_protocol_with_merges_monotonically(tmp_path):
    """protocol_with unions features and maxes min_reader — a new
    feature declaration can never retract an earlier demand."""
    from logdb_spark.tablefmt import TxTable

    tx = TxTable(None, str(tmp_path / "tbl"))
    tx.commit([{"path": "d/1"}])
    assert tx.protocol_with("column_mapping") == {
        "min_reader": 2,
        "features": ["column_mapping"],
    }
    tx.commit([], meta={"protocol": tx.protocol_with("column_mapping")})
    tx.commit(
        [], meta={"protocol": tx.protocol_with("equality_deletes")}
    )
    assert tx.protocol()["features"] == [
        "column_mapping",
        "equality_deletes",
    ]
    assert tx.protocol_with("x", min_reader=9)["min_reader"] == 9
    tx.commit([], meta={"protocol": {"min_reader": 9, "features": []}})
    assert tx.protocol_with("y", min_reader=2)["min_reader"] == 9


def test_vacuum_declares_read_horizon_feature(spark):
    """VERDICT r12 wrong #1b: vacuum's maintenance commit declares the
    read_horizon protocol feature — an old reader that would ignore
    min_read_version (and serve a partial snapshot) now refuses the
    whole table — merged with, not replacing, prior demands."""
    from logdb_spark.operators.tableformat import (
        _cow_delete_p_years,
        _year_table,
    )

    tx, _ = _year_table(spark, SF_SMALL)
    tx.commit(
        [], meta={"protocol": tx.protocol_with("column_mapping")}
    )
    _cow_delete_p_years(tx, (1995, 2000), subdir="rw1", meta={"ts": 100})
    tx.vacuum(before_ts=200)
    assert tx.protocol()["features"] == ["column_mapping", "read_horizon"]


def test_horizon_gate_applies_to_files_override(spark):
    """ADVICE r12 #3b: a pruned (files=...) time-travel below the
    horizon dies with the loud contract error, not PATH_NOT_FOUND."""
    from logdb_spark.operators.tableformat import (
        _cow_delete_p_years,
        _year_table,
    )

    tx, adds = _year_table(spark, SF_SMALL)
    _cow_delete_p_years(tx, (1995, 2000), subdir="rw1", meta={"ts": 100})
    tx.vacuum(before_ts=200)
    h = tx.read_horizon()
    with pytest.raises(ValueError, match="read horizon"):
        tx.read(as_of=h - 1, files=adds[:1])
    # At/above the horizon the files override still works.
    live = [
        e
        for e in tx.live_files()
        if e.get("kind", "data") == "data"
    ]
    assert tx.read(as_of=tx.latest_version(), files=live[:1]).count() > 0


def test_choose_delete_strategy_threshold_edges():
    """The router is a pure function: density below the threshold is
    MOR, at/above is COW, an empty touched set is trivially MOR."""
    from logdb_spark.tablefmt import choose_delete_strategy

    assert choose_delete_strategy(1, 1000) == "mor"
    assert choose_delete_strategy(100, 1000) == "cow"  # exactly 0.1
    assert choose_delete_strategy(99, 1000) == "mor"
    assert choose_delete_strategy(999, 1000) == "cow"
    assert choose_delete_strategy(0, 0) == "mor"
    assert choose_delete_strategy(5, 1000, threshold=0.001) == "cow"


def test_auto_delete_forces_each_branch(spark):
    """table_delete_cost_router's helper, branch-forced: a dense
    predicate commits a COW rewrite (no eq_delete file, touched files
    removed), a sparse one commits a MOR key file (one eq_delete
    live, zero data files removed); both read back row-correct."""
    import json

    from logdb_spark.operators.tableformat import (
        _auto_delete,
        _year_table,
    )

    tx, _ = _year_table(spark, SF_SMALL)
    before = tx.read().count()

    dense = F.col("o_orderstatus").isin("F", "O") & (F.col("g") <= 1997)
    strat, n_dense = _auto_delete(tx, dense, "rw1", ts=100)
    assert strat == "cow" and n_dense > 0
    v_cow = tx.latest_version()
    with open(tx._vpath(v_cow)) as f:
        doc = json.load(f)
    assert doc["meta"]["delete_strategy"] == "cow"
    assert doc["remove"] and all(
        a.get("kind", "data") == "data" for a in doc["add"]
    )
    assert tx.read().count() == before - n_dense

    sparse = F.col("o_orderkey") % 64 == 1
    strat, n_sparse = _auto_delete(tx, sparse, "dv1", ts=200)
    assert strat == "mor" and n_sparse > 0
    with open(tx._vpath(tx.latest_version())) as f:
        doc = json.load(f)
    assert not doc["remove"]
    assert [a["kind"] for a in doc["add"]] == ["eq_delete"]
    assert "equality_deletes" in doc["meta"]["protocol"]["features"]
    assert tx.read().count() == before - n_dense - n_sparse


def test_row_level_kernels_commit_nothing_when_nothing_matches(spark):
    """Degenerate input: a delete that matches no row leaves the log
    where it was, on every path. A cost-routed delete with no match
    (routed to MOR: nothing to rewrite) and a repeated COW delete
    whose 'P' rows are already gone commit nothing; mor_delete
    without keys commits its adds alone, with no delete file and no
    protocol demand."""
    from logdb_spark.operators.tableformat import (
        _auto_delete,
        _cow_delete_p_years,
        _year_table,
    )
    from logdb_spark.tablefmt import cow_delete, mor_delete

    tx, adds = _year_table(spark, SF_SMALL)
    v = tx.latest_version()
    none = F.col("o_orderkey") < -1
    assert _auto_delete(tx, none, "dv1", ts=100) == ("mor", 0)
    assert cow_delete(tx, none, F.year("o_orderdate"), "rw0", "o_orderkey") == []
    assert tx.latest_version() == v

    assert _cow_delete_p_years(tx, (1996, 1999), subdir="rw1")
    v = tx.latest_version()
    assert _cow_delete_p_years(tx, (1996, 1999), subdir="rw2") == []
    assert tx.latest_version() == v

    keys = tx.read().filter(none)
    assert mor_delete(tx, keys, "o_orderkey", "dv2") == []
    assert tx.latest_version() == v
    assert mor_delete(tx, keys, "o_orderkey", "dv3", adds=adds[:1]) == []
    assert tx.latest_version() == v + 1
    assert tx.protocol() is None


def test_cow_delete_keeps_rows_whose_predicate_is_null(spark):
    """SQL DELETE removes only the rows whose predicate is TRUE: a row
    where it is NULL survives the COW rewrite. The predicate here is
    NULL on every even key and dense enough that the router takes
    the COW branch; the rewrite must drop exactly the matched rows
    and keep every even key."""
    from logdb_spark.operators.tableformat import _auto_delete, _year_table
    from logdb_spark.tablefmt import cow_delete

    odd = F.col("o_orderkey") % 2 == 1
    pred = F.when(odd, F.col("o_orderstatus").isin("F", "O"))

    tx, _ = _year_table(spark, SF_SMALL)
    before = tx.read()
    n, evens = before.count(), before.filter(~odd).count()
    strat, matched = _auto_delete(tx, pred, "rw1", ts=100)
    assert strat == "cow" and 0 < matched < n - evens
    assert tx.read().count() == n - matched
    assert tx.read().filter(~odd).count() == evens

    tx, _ = _year_table(spark, SF_SMALL)
    assert cow_delete(tx, pred, F.year("o_orderdate"), "rw1", "o_orderkey")
    assert tx.read().count() == n - matched


def test_write_grouped_footer_stats_match_spark_agg(spark, tmp_path):
    """r13: write_grouped derives per-file stats from the written
    parquet FOOTERS (zero extra Spark actions). Parity-pin the footer
    decode against the Spark aggregation it replaced, on a frame with
    negative values, an empty-ish group, and both int widths."""
    from pyspark.sql import functions as F

    from logdb_spark.tablefmt import _stats_from_footers, write_grouped

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 3 - 1500).alias("k"),          # bigint, negatives
        (F.col("id") % 97).cast("int").alias("k32"),  # int32
    )
    root = str(tmp_path)
    adds = write_grouped(df, root, "data1", ("k", "k32"))

    expect = {
        f"data1/g={r['g']}": r
        for r in df.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.min("k32").alias("min_k32"),
            F.max("k32").alias("max_k32"),
        )
        .collect()
    }
    assert len(adds) == 7
    for a in adds:
        e = expect[a["path"]]
        assert a["rows"] == e["rows"]
        assert a["min_k"] == e["min_k"] and a["max_k"] == e["max_k"]
        assert (
            a["min_k32"] == e["min_k32"] and a["max_k32"] == e["max_k32"]
        )
        assert isinstance(a["min_k"], int) and isinstance(a["min_k32"], int)

    # The footer path (not the fallback) must have produced these.
    assert _stats_from_footers(
        os.path.join(root, "data1"), ("k", "k32")
    ) is not None
    # Non-integer stat column → footer path declines (string stats may
    # be truncated); the caller falls back to the file-scan agg.
    df2 = df.withColumn("s", F.concat(F.lit("x"), F.col("k")))
    adds2 = write_grouped(df2, root, "data2", "s")
    assert _stats_from_footers(os.path.join(root, "data2"), ("s",)) is None
    got = {a["path"]: a for a in adds2}
    e2 = {
        f"data2/g={r['g']}": r
        for r in df2.groupBy("g")
        .agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
        .collect()
    }
    for p, a in got.items():
        assert a["min_s"] == e2[p]["mn"] and a["max_s"] == e2[p]["mx"]
