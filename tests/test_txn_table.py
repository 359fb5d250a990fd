"""ACID commit-log table (storage/txnlog.py): append/merge/overwrite/
delete semantics, snapshot isolation, time travel, optimistic
concurrency under real thread contention, data-skipping pruning, and
checkpointed log replay.

These are D4/D5's transactional upgrade (reference db.py:166-201,
517-525) — pure-unit by design: the driver's DuckDB oracle cannot
express a multi-writer commit protocol."""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from market_insights_app_spark.storage.txnlog import (
    CommitConflict,
    TxnTable,
    streaming_merge_sink,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, pairs):
    return spark.createDataFrame([(int(k), str(v)) for k, v in pairs], "id INT, val STRING")


@pytest.fixture()
def table(spark, tmp_path):
    return TxnTable(spark, str(tmp_path / "t"), checkpoint_interval=4)


def test_append_read_roundtrip(spark, table):
    v0 = table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    v1 = table.append(_mk(spark, [(3, "c")]), stats_col="id")
    assert (v0, v1) == (0, 1)
    assert _rows(table.read()) == [(1, "a"), (2, "b"), (3, "c")]


def test_delete_where_null_predicate_keeps_row(spark, table):
    """SQL/Delta DELETE removes only predicate-TRUE rows; a NULL
    predicate value (here: status IS NULL) must KEEP the row."""
    df = spark.createDataFrame(
        [(1, "expired"), (2, "active"), (3, None)],
        "id INT, status STRING",
    )
    table.append(df, stats_col="id")
    table.delete_where(F.col("status") == "expired")
    assert _rows(table.read()) == [(2, "active"), (3, None)]


def test_append_schema_mismatch_fails_loudly(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    wrong_cols = spark.createDataFrame([(2, 3.5)], "id INT, price DOUBLE")
    with pytest.raises(ValueError, match="diverges"):
        table.append(wrong_cols, stats_col="id")
    wrong_type = spark.createDataFrame([("2", "b")], "id STRING, val STRING")
    with pytest.raises(ValueError, match="diverges"):
        table.append(wrong_type, stats_col="id")
    # reordered columns with identical name->type shape are fine (the
    # explicit-schema read matches parquet columns by name), and the
    # failed attempts must not have committed or leaked rows
    reordered = spark.createDataFrame([("b", 2)], "val STRING, id INT")
    table.append(reordered)
    assert _rows(table.read()) == [(1, "a"), (2, "b")]


def test_append_evolve_schema_widens_and_null_fills(spark, table):
    """append(evolve_schema=True) is the Delta mergeSchema write
    analog: a wider frame evolves the recorded schema (old directories
    read back null-filled), a narrower frame commits with the missing
    column null-filled, and the strict default still refuses both."""
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    wider = spark.createDataFrame([(2, "b", 9.5)], "id INT, val STRING, score DOUBLE")
    with pytest.raises(ValueError, match="diverges"):
        table.append(wider)
    table.append(wider, evolve_schema=True)
    got = {r["id"]: (r["val"], r["score"]) for r in table.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    narrow = spark.createDataFrame([(3,)], "id INT")
    with pytest.raises(ValueError, match="diverges"):
        table.append(narrow)
    table.append(narrow, evolve_schema=True)
    got = {r["id"]: (r["val"], r["score"]) for r in table.read().collect()}
    assert got[3] == (None, None) and len(got) == 3


def test_merge_update_else_insert(spark, table):
    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    v = table.merge(_mk(spark, [(2, "B"), (4, "d")]), ["id"])
    assert v == 1
    assert _rows(table.read()) == [(1, "a"), (2, "B"), (4, "d")]
    # merging the same batch again is idempotent (restart semantics)
    table.merge(_mk(spark, [(2, "B"), (4, "d")]), ["id"])
    assert _rows(table.read()) == [(1, "a"), (2, "B"), (4, "d")]


def test_merge_creates_table(spark, table):
    table.merge(_mk(spark, [(7, "x")]), ["id"])
    assert _rows(table.read()) == [(7, "x")]


def test_merge_bump_col(spark, table):
    table.merge(_mk(spark, [(1, "a")]), ["id"], bump_col="updated_at")
    row = table.read().first()
    assert row["updated_at"] is not None


def test_time_travel_and_snapshot_isolation(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    pinned = table.snapshot()  # resolve BEFORE the next commit
    table.merge(_mk(spark, [(1, "A"), (2, "b")]), ["id"])
    # the pinned snapshot still reads the old state (no vacuum yet)
    assert _rows(table._read_dirs(pinned.dirs, pinned.schema_json)) == [(1, "a")]
    assert _rows(table.read(version=0)) == [(1, "a")]
    assert _rows(table.read()) == [(1, "A"), (2, "b")]


def test_overwrite_and_delete(spark, table):
    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    table.overwrite(_mk(spark, [(9, "z")]), stats_col="id")
    assert _rows(table.read()) == [(9, "z")]
    table.append(_mk(spark, [(10, "y")]), stats_col="id")
    table.delete_where(F.col("id") == 9)
    assert _rows(table.read()) == [(10, "y")]


def test_history_records_ops(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    table.merge(_mk(spark, [(2, "b")]), ["id"])
    ops = [c["op"] for c in table.history()]
    assert ops == ["append", "merge"]
    assert [c["version"] for c in table.history()] == [0, 1]


def test_merge_prunes_disjoint_directories(spark, table):
    """Data skipping: a merge whose key range is disjoint from a data
    directory's [min,max] must NOT rewrite that directory."""
    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    table.append(_mk(spark, [(100, "x"), (200, "y")]), stats_col="id")
    low_dirs = set(table.snapshot().dirs)
    table.merge(_mk(spark, [(150, "X")]), ["id"])
    commit = table.history()[-1]
    # exactly one directory (the 100-200 one) was rewritten
    assert len(commit["remove"]) == 1
    survivors = set(table.snapshot().dirs)
    assert len(low_dirs & survivors) == 1  # the 1-2 directory untouched
    assert _rows(table.read()) == [
        (1, "a"), (2, "b"), (100, "x"), (150, "X"), (200, "y"),
    ]


def test_checkpoint_bounds_replay(spark, table):
    for i in range(9):  # interval=4 -> checkpoints at v3 and v7
        table.append(_mk(spark, [(i, f"v{i}")]), stats_col="id")
    cps = [
        f for f in os.listdir(os.path.join(table.path, "_txn_log"))
        if f.startswith("checkpoint-")
    ]
    assert len(cps) == 2
    # snapshot equals full replay
    assert len(table.snapshot().dirs) == 9
    assert len(_rows(table.read())) == 9
    # a checkpoint alone reconstructs its version
    with open(os.path.join(table.path, "_txn_log", sorted(cps)[-1])) as fh:
        body = json.load(fh)
    assert body["version"] == 7 and len(body["files"]) == 8


def test_concurrent_appends_all_land(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "ca"))
    errs = []

    def w(i):
        try:
            TxnTable(spark, t.path).append(
                _mk(spark, [(i, f"w{i}")]), stats_col="id", max_retries=50
            )
        except Exception as e:  # noqa: BLE001 - recorded and re-raised below
            errs.append(e)

    ths = [threading.Thread(target=w, args=(i,)) for i in range(6)]
    [th.start() for th in ths]
    [th.join() for th in ths]
    assert not errs
    assert _rows(t.read()) == [(i, f"w{i}") for i in range(6)]
    assert [c["version"] for c in t.history()] == list(range(6))


def test_concurrent_disjoint_merges_serialize(spark, tmp_path):
    """Key-disjoint writers merging concurrently: every writer's rows
    land exactly once, keys stay unique — serialized by the commit
    log."""
    t = TxnTable(spark, str(tmp_path / "cm"))
    t.append(_mk(spark, [(k, "seed") for k in range(4)]), stats_col="id")
    errs = []

    def w(base):
        try:
            TxnTable(spark, t.path).merge(
                _mk(spark, [(base, f"m{base}"), (base + 1, f"m{base + 1}")]),
                ["id"],
                max_retries=50,
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ths = [threading.Thread(target=w, args=(b,)) for b in (0, 2, 10, 12)]
    [th.start() for th in ths]
    [th.join() for th in ths]
    assert not errs
    got = dict(_rows(t.read()))
    assert got == {
        0: "m0", 1: "m1", 2: "m2", 3: "m3",
        10: "m10", 11: "m11", 12: "m12", 13: "m13",
    }


def test_concurrent_overlapping_merges_last_committer_wins(spark, tmp_path):
    """Writers updating the SAME key must serialize: the final value is
    whichever writer committed last in the log — verified by replaying
    the commit order against a dict model."""
    t = TxnTable(spark, str(tmp_path / "co"))
    t.append(_mk(spark, [(1, "seed")]), stats_col="id")
    versions = {}

    def w(tag):
        versions[tag] = TxnTable(spark, t.path).merge(
            _mk(spark, [(1, tag), (100 + ord(tag[0]), tag)]), ["id"], max_retries=50
        )

    ths = [threading.Thread(target=w, args=(tag,)) for tag in ("A", "B", "C")]
    [th.start() for th in ths]
    [th.join() for th in ths]
    last = max(versions, key=versions.__getitem__)
    got = dict(_rows(t.read()))
    assert got[1] == last  # serializability: log order decides
    for tag in ("A", "B", "C"):
        assert got[100 + ord(tag[0])] == tag  # no writer's insert lost


def test_merge_over_corrupt_live_file_raises_without_commit(spark, table):
    """A merge that must rewrite a corrupt live data file RAISES and
    commits nothing — it never skips the unreadable rows and publishes
    a table that silently lost them."""
    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    live = os.path.join(table.path, table.snapshot().dirs[0])
    part = next(f for f in os.listdir(live) if f.endswith(".parquet"))
    with open(os.path.join(live, part), "wb") as fh:
        fh.write(b"not a parquet file")
    log = sorted(os.listdir(os.path.join(table.path, "_txn_log")))
    version = table.snapshot().version
    with pytest.raises(Exception):
        table.merge(_mk(spark, [(2, "B")]), ["id"])
    assert table.snapshot().version == version
    assert sorted(os.listdir(os.path.join(table.path, "_txn_log"))) == log


_WRITE_OPS = {
    "append": lambda t, s, n: t.append(_mk(s, [(2, "b")]), max_retries=n),
    "overwrite": lambda t, s, n: t.overwrite(_mk(s, [(2, "b")]), max_retries=n),
    "merge": lambda t, s, n: t.merge(_mk(s, [(1, "x")]), ["id"], max_retries=n),
    "delete_where": lambda t, s, n: t.delete_where(F.col("id") == 1, max_retries=n),
    "optimize": lambda t, s, n: t.optimize("id", max_retries=n),
    "optimize_zorder": lambda t, s, n: t.optimize_zorder(["id"], max_retries=n),
    "add_constraint": lambda t, s, n: t.add_constraint("pos", "id > 0", max_retries=n),
    "restore": lambda t, s, n: t.restore(0, max_retries=n),
}


@pytest.mark.parametrize("op", sorted(_WRITE_OPS))
def test_conflict_exhaustion_raises(spark, table, monkeypatch, op):
    """Every write op gives up with CommitConflict after exactly
    `max_retries` lost publishes and leaves the log untouched."""
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    log_dir = os.path.join(table.path, "_txn_log")
    log = sorted(os.listdir(log_dir))
    published: list[int] = []
    # force every publish to lose
    monkeypatch.setattr(
        TxnTable, "_publish",
        lambda self, v, p: published.append(v) or False, raising=True,
    )
    with pytest.raises(CommitConflict):
        _WRITE_OPS[op](table, spark, 3)
    assert len(published) == 3
    assert sorted(os.listdir(log_dir)) == log


def test_vacuum_reclaims_only_unreferenced_old_dirs(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    table.merge(_mk(spark, [(1, "b")]), ["id"])
    data_root = os.path.join(table.path, "data")
    # plant an orphan (a crashed writer's uncommitted directory)
    orphan = os.path.join(data_root, "deadbeef")
    os.makedirs(orphan)
    old = 1.0
    os.utime(orphan, (old, old))
    dropped = table.vacuum(retain_seconds=3600)
    assert dropped == ["data/deadbeef"]
    # referenced dirs survive even when old -> time travel still works
    assert _rows(table.read(version=0)) == [(1, "a")]
    assert _rows(table.read()) == [(1, "b")]
    # a FRESH orphan survives the age guard (in-flight writer safety)
    fresh = os.path.join(data_root, "cafebabe")
    os.makedirs(fresh)
    assert table.vacuum(retain_seconds=3600) == []


def test_vacuum_refuses_unreadable_checkpoint(spark, table, monkeypatch):
    """After truncate_history the covering checkpoint can be the only
    reference to live data.  vacuum must raise on a checkpoint it
    cannot parse and delete nothing — skipping it would reclaim the
    live directory holding ids 1-2.  A checkpoint that vanished under
    a concurrent truncate is still skipped."""
    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    table.append(_mk(spark, [(3, "c")]), stats_col="id")
    table.merge(_mk(spark, [(3, "C")]), ["id"])
    table.truncate_history(1)
    cp = os.path.join(table.path, "_txn_log", f"checkpoint-{2:020d}.json")
    with open(cp) as fh:
        good = fh.read()
    with open(cp, "w") as fh:
        fh.write("{not json")
    data_root = os.path.join(table.path, "data")
    for d in os.listdir(data_root):
        os.utime(os.path.join(data_root, d), (1.0, 1.0))
    before = sorted(os.listdir(data_root))
    with pytest.raises(ValueError):
        table.vacuum(retain_seconds=3600)
    assert sorted(os.listdir(data_root)) == before
    with open(cp, "w") as fh:
        fh.write(good)
    # a listed checkpoint that is gone by the time vacuum opens it
    listed = TxnTable._checkpoint_versions
    monkeypatch.setattr(
        TxnTable, "_checkpoint_versions", lambda self: [0] + listed(self)
    )
    assert len(table.vacuum(retain_seconds=3600)) == 1  # only id 3's old dir
    assert _rows(table.read()) == [(1, "a"), (2, "b"), (3, "C")]


def test_checkpoint_fsynced_before_link(spark, table, monkeypatch):
    """truncate_history unlinks log entries once its covering
    checkpoint is visible, so the checkpoint must be on disk before
    the link that makes it visible."""
    import market_insights_app_spark.storage.txnlog as txnlog

    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    table.append(_mk(spark, [(2, "b")]), stats_col="id")
    events: list[str] = []
    real_fsync, real_link = txnlog.os.fsync, txnlog.os.link

    def fsync(fd):
        events.append("fsync")
        return real_fsync(fd)

    def link(src, dst):
        events.append(os.path.basename(dst))
        return real_link(src, dst)

    monkeypatch.setattr(txnlog.os, "fsync", fsync)
    monkeypatch.setattr(txnlog.os, "link", link)
    table.truncate_history(1)
    i = events.index(f"checkpoint-{1:020d}.json")
    assert i > 0 and events[i - 1] == "fsync"


def test_optimize_restores_clustering(spark, table):
    """Appends with interleaved key ranges destroy pruning; OPTIMIZE
    re-clusters into disjoint-stat directories so a key-confined merge
    is O(1) directories again."""
    _evens = [(k, f"e{k}") for k in range(0, 100, 2)]
    _odds = [(k, f"o{k}") for k in range(1, 100, 2)]
    table.append(_mk(spark, _evens), stats_col="id")
    table.append(_mk(spark, _odds), stats_col="id")
    before = _rows(table.read())
    v = table.optimize("id", target_dirs=4)
    snap = table.snapshot()
    assert len(snap.dirs) == 4
    stats = sorted(
        (snap.files[d]["stats"]["min"], snap.files[d]["stats"]["max"])
        for d in snap.dirs
    )
    for (lo1, hi1), (lo2, _hi2) in zip(stats, stats[1:]):
        assert hi1 < lo2  # disjoint ranges
    assert _rows(table.read()) == before  # pure layout change
    table.merge(_mk(spark, [(3, "X")]), ["id"])
    assert len(table.history()[-1]["remove"]) == 1  # pruning restored
    assert table.history()[-2]["op"] == "optimize"
    assert _rows(table.read(version=v - 1)) == before  # time travel intact


def test_vacuum_protects_optimize_buckets(spark, table):
    table.append(_mk(spark, [(k, "x") for k in range(20)]), stats_col="id")
    table.optimize("id", target_dirs=2)
    # age everything; the optimize root is still referenced by the log
    data_root = os.path.join(table.path, "data")
    for d in os.listdir(data_root):
        os.utime(os.path.join(data_root, d), (1.0, 1.0))
    table.vacuum(retain_seconds=3600)
    assert len(_rows(table.read())) == 20


def test_rejects_object_store_uri(spark):
    with pytest.raises(NotImplementedError):
        TxnTable(spark, "s3://bucket/table")


def test_crashed_writer_leaves_table_unchanged(spark, table, monkeypatch):
    """A writer that dies after writing data but before publishing its
    commit must be invisible: readers see the old state, and vacuum
    reclaims the orphan once it ages past retention."""
    table.append(_mk(spark, [(1, "a")]), stats_col="id")

    real_publish = TxnTable._publish

    def crash(self, v, p):
        raise RuntimeError("writer killed before commit")

    monkeypatch.setattr(TxnTable, "_publish", crash)
    with pytest.raises(RuntimeError):
        table.merge(_mk(spark, [(1, "lost"), (2, "lost")]), ["id"])
    monkeypatch.setattr(TxnTable, "_publish", real_publish)

    assert _rows(table.read()) == [(1, "a")]  # crash invisible
    assert [c["op"] for c in table.history()] == ["append"]
    # the crashed writer's staging + rewrite dirs are unreferenced orphans
    data_root = os.path.join(table.path, "data")
    for d in os.listdir(data_root):
        os.utime(os.path.join(data_root, d), (1.0, 1.0))
    dropped = table.vacuum(retain_seconds=3600)
    assert len(dropped) >= 1  # orphans reclaimed
    assert _rows(table.read()) == [(1, "a")]  # live data survived aging
    # the table keeps accepting writes afterwards
    table.merge(_mk(spark, [(2, "b")]), ["id"])
    assert _rows(table.read()) == [(1, "a"), (2, "b")]


def test_empty_updates_merge_is_noop(spark, table):
    """An idle streaming micro-batch merges an EMPTY batch — that must
    not commit anything (and especially not rewrite the whole table,
    which a stats-less update set would otherwise touch)."""
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    assert table.merge(_mk(spark, []), ["id"]) is None
    assert [c["op"] for c in table.history()] == ["append"]
    assert _rows(table.read()) == [(1, "a")]


def test_txn_marker_exactly_once(spark, table):
    """A merge carrying an already-applied (app, id) is a no-op — the
    restarted-micro-batch contract (Delta idempotent-writes pattern)."""
    v = table.merge(_mk(spark, [(1, "a")]), ["id"], txn=("job1", 0))
    assert v == 0 and table.last_txn("job1") == 0
    # replay of batch 0: skipped, even with DIFFERENT (stale) content
    assert table.merge(_mk(spark, [(1, "STALE")]), ["id"], txn=("job1", 0)) is None
    assert _rows(table.read()) == [(1, "a")]
    # a later batch applies; an unrelated app is not blocked
    assert table.merge(_mk(spark, [(2, "b")]), ["id"], txn=("job1", 1)) == 1
    assert table.merge(_mk(spark, [(3, "c")]), ["id"], txn=("job2", 0)) == 2
    assert table.last_txn("job1") == 1
    assert table.last_txn("job2") == 0
    assert table.last_txn("nope") is None
    # txn markers survive in history for audit
    assert table.history()[-1]["txn"] == {"app": "job2", "id": 0}


def test_random_op_sequence_matches_dict_model(spark, tmp_path):
    """Model-based check: a deterministic pseudo-random sequence of
    append/merge/delete/overwrite/optimize against a pure-Python dict
    model; every committed version is also re-read via time travel at
    the end (the log IS the history)."""
    import random

    rng = random.Random(0xAC1D)
    t = TxnTable(spark, str(tmp_path / "model"), checkpoint_interval=3)
    model: dict[int, str] = {}
    states: list[dict[int, str]] = []

    def sync_append(pairs):
        for k, v in pairs:
            assert k not in model
            model[k] = v
        t.append(_mk(spark, pairs), stats_col="id")

    def sync_merge(pairs):
        model.update(pairs)
        t.merge(_mk(spark, pairs), ["id"])

    next_fresh = 1000
    for step in range(12):
        op = rng.choice(["append", "merge", "merge", "delete", "overwrite", "optimize"])
        if op == "append":
            pairs = [(next_fresh + i, f"a{step}") for i in range(rng.randint(1, 4))]
            next_fresh += 10
            sync_append(pairs)
        elif op == "merge":
            keys = rng.sample(sorted(model) or [0], min(2, max(1, len(model))))
            pairs = [(k, f"m{step}") for k in keys] + [(next_fresh, f"m{step}")]
            next_fresh += 10
            sync_merge(pairs)
        elif op == "delete" and model:
            victim = rng.choice(sorted(model))
            del model[victim]
            t.delete_where(F.col("id") == victim)
        elif op == "overwrite":
            pairs = [(i, f"o{step}") for i in range(rng.randint(1, 3))]
            model = dict(pairs)
            t.overwrite(_mk(spark, pairs), stats_col="id")
        elif op == "optimize" and model:
            t.optimize("id", target_dirs=2)
        else:
            continue
        states.append(dict(model))
        got = dict(_rows(t.read()))
        assert got == model, f"step {step} ({op}): {got} != {model}"
    # time travel: the final log replays every committed state
    versions = [c["version"] for c in t.history()]
    assert versions == list(range(len(versions)))
    assert dict(_rows(t.read(version=versions[-1]))) == states[-1]


def test_streaming_merge_sink(spark, tmp_path):
    """availableNow replay through foreachBatch -> ACID MERGE: the
    latest-wins materialization of a keyed stream (D4) — each key
    holds its newest merged value, untouched keys survive."""
    src = tmp_path / "src"
    _mk(spark, [(1, "s1"), (2, "s2")]).write.mode("overwrite").parquet(str(src))
    t = TxnTable(spark, str(tmp_path / "sink"))
    t.append(_mk(spark, [(2, "old"), (9, "keep")]), stats_col="id")
    stream = spark.readStream.schema("id INT, val STRING").parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(streaming_merge_sink(t, ["id"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _rows(t.read()) == [(1, "s1"), (2, "s2"), (9, "keep")]


def test_merge_evolve_schema_adds_column(spark, table):
    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    upd = spark.createDataFrame([(2, "B", 9.5), (3, "c", 7.0)],
                                ["id", "val", "score"])
    v = table.merge(upd, ["id"], evolve_schema=True)
    got = {r.id: (r.val, r.score) for r in table.read().collect()}
    # untouched row null-fills the new column; merged rows carry it
    assert got == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 7.0)}
    # time travel to pre-evolution keeps the old 2-column shape
    old = table.read(version=v - 1)
    assert old.columns == ["id", "val"]
    assert _rows(old) == [(1, "a"), (2, "b")]


def test_merge_wider_frame_without_flag_raises(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    upd = spark.createDataFrame([(1, "A", 1.0)], ["id", "val", "score"])
    with pytest.raises(ValueError, match="evolve_schema=True"):
        table.merge(upd, ["id"])
    # ...including when the update keys touch NO existing directory
    # (the untouched path must not smuggle a wider frame in)
    far = spark.createDataFrame([(10_000, "z", 1.0)], ["id", "val", "score"])
    with pytest.raises(ValueError, match="evolve_schema=True"):
        table.merge(far, ["id"])


def test_merge_evolve_rejects_missing_existing_columns(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    narrower = spark.createDataFrame([(1, 2.0)], ["id", "score"])
    with pytest.raises(ValueError, match="missing existing table columns"):
        table.merge(narrower, ["id"], evolve_schema=True)


def test_merge_evolve_keeps_pruning(spark, table):
    """Directory stats keep pruning after an evolution: a key-confined
    merge still rewrites only the overlapping directory."""
    table.append(_mk(spark, [(i, f"v{i}") for i in range(100)]), stats_col="id")
    table.append(_mk(spark, [(i, f"v{i}") for i in range(1000, 1100)]),
                 stats_col="id")
    wide = spark.createDataFrame([(5, "W", 1.0)], ["id", "val", "score"])
    table.merge(wide, ["id"], evolve_schema=True)
    before = set(table.snapshot().dirs)
    low = spark.createDataFrame([(6, "X", 2.0)], ["id", "val", "score"])
    table.merge(low, ["id"], evolve_schema=True)
    after = table.snapshot()
    # the 1000-range directory survived both merges untouched
    untouched = [d for d in before & set(after.dirs)
                 if after.files[d].get("stats", {}).get("min") == 1000]
    assert untouched
    got = {r.id: (r.val, r.score) for r in table.read().collect()}
    assert got[5] == ("W", 1.0) and got[6] == ("X", 2.0)
    assert got[1000] == ("v1000", None)


def test_streaming_merge_sink_evolves_schema(spark, tmp_path):
    """A producer that starts emitting a new column mid-stream evolves
    the sink table instead of killing the query."""
    src = tmp_path / "src_evo"
    spark.createDataFrame([(1, "s1", 0.5)], ["id", "val", "conf"]).write.parquet(
        str(src)
    )
    t = TxnTable(spark, str(tmp_path / "sink_evo"))
    t.append(_mk(spark, [(1, "old"), (2, "keep")]).select(
        F.col("id").cast("long").alias("id"), "val"
    ))
    stream = spark.readStream.schema("id LONG, val STRING, conf DOUBLE").parquet(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            streaming_merge_sink(t, ["id"], evolve_schema=True)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_evo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.id: (r.val, r.conf) for r in t.read().collect()}
    assert got == {1: ("s1", 0.5), 2: ("keep", None)}


def test_post_evolution_ops_keep_consistency(spark, table):
    """After a schema evolution, every other operation keeps working on
    the widened table: merges, deletes, OPTIMIZE re-clustering (which
    rewrites null-filled rows), and time travel across the shapes."""
    table.append(_mk(spark, [(1, "a"), (2, "b"), (3, "c")]), stats_col="id")
    wide = spark.createDataFrame([(2, "B", 1.5)], ["id", "val", "score"])
    v_evolve = table.merge(wide, ["id"], evolve_schema=True)
    # ordinary merge at the evolved width
    table.merge(
        spark.createDataFrame([(4, "d", 2.5)], ["id", "val", "score"]), ["id"]
    )
    # the pre-evolution width is now a hard error, not a silent null
    with pytest.raises(ValueError, match="missing existing table columns"):
        table.merge(_mk(spark, [(5, "e")]), ["id"])
    table.delete_where(F.col("id") == 1)
    table.optimize("id", target_dirs=2)
    got = {r.id: (r.val, r.score) for r in table.read().collect()}
    assert got == {2: ("B", 1.5), 3: ("c", None), 4: ("d", 2.5)}
    # time travel: pre-evolution versions keep the 2-column shape
    pre = table.read(version=v_evolve - 1)
    assert pre.columns == ["id", "val"]
    assert dict(_rows(pre)) == {1: "a", 2: "b", 3: "c"}


# -- truncate_history: the right-to-be-forgotten completion ----------


def test_truncate_history_enables_physical_forget(spark, table):
    """delete_where removes rows from the LIVE snapshot only — every
    older version still references the bytes and vacuum honors that.
    truncate_history + vacuum is the physical-erasure completion: after
    it, NO parquet file under the table root contains a forgotten row,
    retained rows are intact, time travel below the cutoff fails
    loudly, and the table keeps working (fresh readers resolve from the
    covering checkpoint; appends continue)."""
    table.append(_mk(spark, [(k, f"t{k}") for k in range(0, 10)]), stats_col="id")
    table.append(_mk(spark, [(k, f"t{k}") for k in range(10, 20)]), stats_col="id")
    table.delete_where(F.col("id") % 3 == 0)
    keep = sorted((k, f"t{k}") for k in range(20) if k % 3 != 0)
    assert _rows(table.read()) == keep
    # pre-truncation: forgotten bytes still physically present
    data_root = os.path.join(table.path, "data")
    def _all_rows():
        dirs = [os.path.join(data_root, d) for d in os.listdir(data_root)]
        return spark.read.parquet(*dirs)
    assert _all_rows().filter(F.col("id") % 3 == 0).count() > 0
    assert table.vacuum(retain_seconds=0.0) == []  # every dir logged
    dropped = table.truncate_history()
    assert dropped == [0, 1]
    assert len(table.vacuum(retain_seconds=0.0)) == 2
    # physical erasure, retained intact
    assert _all_rows().filter(F.col("id") % 3 == 0).count() == 0
    assert _rows(_all_rows()) == keep
    # time travel below the cutoff is a loud error
    with pytest.raises(ValueError, match="not in log"):
        table.read(version=0)
    # a FRESH reader resolves from the covering checkpoint
    t2 = TxnTable(spark, table.path)
    assert _rows(t2.read()) == keep
    # and the table keeps taking writes
    t2.append(_mk(spark, [(100, "new")]), stats_col="id")
    assert _rows(t2.read()) == keep + [(100, "new")]


def test_truncate_history_retain_window_keeps_time_travel(spark, table):
    """retain_versions keeps the newest N versions resolvable — and
    vacuum must protect a directory whose ADDING commit was dropped but
    which a surviving version still references (after truncation that
    reference lives only in the covering checkpoint)."""
    table.append(_mk(spark, [(1, "a")]), stats_col="id")   # v0 -> dirA
    table.append(_mk(spark, [(2, "b")]), stats_col="id")   # v1 -> dirB
    table.append(_mk(spark, [(3, "c")]), stats_col="id")   # v2 -> dirC
    assert table.truncate_history(retain_versions=2) == [0]
    # dirA's adding commit (v0) is gone, but v1 still references dirA
    # via the covering checkpoint — vacuum must not reclaim it
    assert table.vacuum(retain_seconds=0.0) == []
    assert _rows(table.read(version=1)) == [(1, "a"), (2, "b")]
    assert _rows(table.read(version=2)) == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(ValueError, match="not in log"):
        table.read(version=0)


def test_truncate_history_noop_and_validation(spark, table):
    assert table.truncate_history() == []  # empty table
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    assert table.truncate_history() == []  # nothing below the survivor
    assert table.truncate_history(retain_versions=5) == []
    with pytest.raises(ValueError, match="retain_versions"):
        table.truncate_history(retain_versions=0)
    # idempotent: a second truncate after a real one drops nothing new
    table.append(_mk(spark, [(2, "b")]), stats_col="id")
    assert table.truncate_history() == [0]
    assert table.truncate_history() == []
    assert _rows(table.read()) == [(1, "a"), (2, "b")]


def test_truncate_races_concurrent_appenders(spark, table):
    """Writers committing WHILE history is truncated: every append must
    land (append never reads old history, so truncation can't
    invalidate it), the final state must contain all rows except the
    forgotten prefix's deletions, and a fresh reader must resolve
    cleanly from the covering checkpoint."""
    for k in range(4):
        table.append(_mk(spark, [(k, f"base{k}")]), stats_col="id")
    errs: list[Exception] = []

    def appender(i):
        try:
            table.append(_mk(spark, [(100 + i, f"w{i}")]), stats_col="id")
        except Exception as e:  # pragma: no cover - failure diagnostics
            errs.append(e)

    def truncator():
        try:
            table.truncate_history(retain_versions=2)
        except Exception as e:  # pragma: no cover - failure diagnostics
            errs.append(e)

    ths = [threading.Thread(target=appender, args=(i,)) for i in range(4)]
    ths.insert(2, threading.Thread(target=truncator))
    [th.start() for th in ths]
    [th.join() for th in ths]
    assert not errs
    expect = [(k, f"base{k}") for k in range(4)] + [
        (100 + i, f"w{i}") for i in range(4)
    ]
    assert _rows(table.read()) == sorted(expect)
    assert _rows(TxnTable(spark, table.path).read()) == sorted(expect)
    # vacuum after the dust settles reclaims nothing still referenced
    table.vacuum(retain_seconds=0.0)
    assert _rows(table.read()) == sorted(expect)


def test_random_op_sequence_with_truncation_matches_dict_model(spark, tmp_path):
    """The dict-model law extended with truncate_history + vacuum in
    the random mix: live state is never affected by history surgery,
    fresh readers always resolve (covering-checkpoint invariant), the
    log stays a contiguous version run, and time travel works exactly
    for the surviving suffix."""
    import random

    rng = random.Random(0x70F0)
    t = TxnTable(spark, str(tmp_path / "model_tr"), checkpoint_interval=3)
    model: dict[int, str] = {}
    next_fresh = 1000
    for step in range(14):
        op = rng.choice(
            ["append", "merge", "delete", "truncate", "truncate2", "vacuum"]
        )
        if op == "append":
            pairs = [(next_fresh + i, f"a{step}") for i in range(rng.randint(1, 3))]
            next_fresh += 10
            for k, v in pairs:
                model[k] = v
            t.append(_mk(spark, pairs), stats_col="id")
        elif op == "merge":
            keys = rng.sample(sorted(model) or [0], min(2, max(1, len(model))))
            pairs = [(k, f"m{step}") for k in keys] + [(next_fresh, f"m{step}")]
            next_fresh += 10
            model.update(pairs)
            t.merge(_mk(spark, pairs), ["id"])
        elif op == "delete" and model:
            victim = rng.choice(sorted(model))
            del model[victim]
            t.delete_where(F.col("id") == victim)
        elif op == "truncate" and t.snapshot().version >= 0:
            t.truncate_history()
        elif op == "truncate2" and t.snapshot().version >= 0:
            t.truncate_history(retain_versions=3)
        elif op == "vacuum":
            t.vacuum(retain_seconds=0.0)
        else:
            continue
        assert dict(_rows(t.read())) == model, f"step {step} ({op})"
        assert dict(_rows(TxnTable(spark, t.path).read())) == model
        versions = [c["version"] for c in t.history()]
        assert versions == list(
            range(versions[0], versions[0] + len(versions))
        ), f"step {step}: non-contiguous log {versions}"
    # the surviving suffix time-travels; anything below fails loudly
    versions = [c["version"] for c in t.history()]
    if versions:
        t.read(version=versions[0])
        if versions[0] > 0:
            with pytest.raises(ValueError, match="not in log"):
                t.read(version=versions[0] - 1)


# -- restore: the metadata-only rollback ------------------------------


def test_restore_returns_live_state_metadata_only(spark, table):
    v0 = table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    table.append(_mk(spark, [(3, "c")]), stats_col="id")
    table.delete_where(F.col("id") == 1)
    assert _rows(table.read()) == [(2, "b"), (3, "c")]
    n_dirs_before = len(os.listdir(os.path.join(table.path, "data")))
    rv = table.restore(v0)
    # metadata-only: no new data directory was written
    assert len(os.listdir(os.path.join(table.path, "data"))) == n_dirs_before
    assert _rows(table.read()) == [(1, "a"), (2, "b")]
    assert table.history()[-1]["op"] == "restore"
    # the restore is itself history: undo it by restoring forward
    table.restore(rv - 1)
    assert _rows(table.read()) == [(2, "b"), (3, "c")]
    # and vacuum reclaims nothing the log still references
    assert table.vacuum(retain_seconds=0.0) == []
    assert _rows(table.read(version=rv)) == [(1, "a"), (2, "b")]


def test_restore_below_truncation_cutoff_fails_loudly(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    table.append(_mk(spark, [(2, "b")]), stats_col="id")
    table.delete_where(F.col("id") == 1)
    table.truncate_history()
    table.vacuum(retain_seconds=0.0)
    with pytest.raises(ValueError, match="not in log"):
        table.restore(0)
    assert _rows(table.read()) == [(2, "b")]


def test_restore_recovers_pre_evolution_schema(spark, table):
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    wide = spark.createDataFrame([(2, "B", 1.5)], ["id", "val", "score"])
    table.merge(wide, ["id"], evolve_schema=True)
    assert table.read().columns == ["id", "val", "score"]
    table.restore(0)
    assert table.read().columns == ["id", "val"]
    assert _rows(table.read()) == [(1, "a")]


# -- pruned DELETE (stats-confined rewrite) ---------------------------


def test_delete_where_prune_hint_rewrites_only_overlapping_dirs(spark, table):
    """A key-confined delete with a truthful prune hint must leave
    disjoint directories' add entries verbatim (no data job touches
    them), rewrite only the overlapping ones, and keep the survivors
    stats-bearing so LATER pruned operations still skip."""
    for lo in (0, 100, 200):
        table.append(
            _mk(spark, [(k, f"v{k}") for k in range(lo, lo + 10)]),
            stats_col="id",
        )
    before = table.snapshot()
    assert len(before.dirs) == 3
    v = table.delete_where(
        (F.col("id") >= 100) & (F.col("id") < 105),
        prune_hint=("id", 100, 104),
    )
    commit = table.history()[-1]
    assert commit["op"] == "delete"
    assert len(commit["remove"]) == 1  # only the middle directory
    after = table.snapshot()
    untouched = set(before.dirs) & set(after.dirs)
    assert len(untouched) == 2  # first and third survive verbatim
    # rewrite keeps stats (the old form wrote stats-less)
    new_dirs = set(after.dirs) - set(before.dirs)
    assert all(after.files[d].get("stats", {}).get("col") == "id" for d in new_dirs)
    expect = sorted(
        (k, f"v{k}")
        for lo in (0, 100, 200)
        for k in range(lo, lo + 10)
        if not (100 <= k < 105)
    )
    assert _rows(table.read()) == expect
    # a second pruned delete over the REWRITTEN directory still prunes
    table.delete_where(F.col("id") == 205, prune_hint=("id", 205, 205))
    assert len(table.history()[-1]["remove"]) == 1
    assert (1, "v1") in _rows(table.read())
    assert (205, "v205") not in _rows(table.read())
    assert _rows(table.read(version=v - 1)) == sorted(
        (k, f"v{k}") for lo in (0, 100, 200) for k in range(lo, lo + 10)
    )


def test_delete_where_prune_hint_noop_when_nothing_overlaps(spark, table):
    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    v = table.delete_where(F.col("id") == 999, prune_hint=("id", 999, 999))
    commit = table.history()[-1]
    assert (commit["add"], commit["remove"]) == ([], [])
    assert v == 1
    assert _rows(table.read()) == [(1, "a"), (2, "b")]


def test_delete_where_prune_hint_conservative_without_stats(spark, table):
    # stats-less append: the hint must NOT prune (correctness first)
    table.append(_mk(spark, [(1, "a"), (2, "b")]))
    table.delete_where(F.col("id") == 1, prune_hint=("id", 5, 9))
    # directory had no stats -> conservatively rewritten, row deleted
    assert _rows(table.read()) == [(2, "b")]


def test_truncate_crash_midway_leaves_readable_table(spark, table, monkeypatch):
    """A truncate that dies after deleting only SOME old log entries
    must leave the table fully readable (the covering checkpoint is
    published before any unlink, and unlinks go oldest-first), and a
    re-run must complete the job."""
    import market_insights_app_spark.storage.txnlog as txnlog

    for k in range(5):
        table.append(_mk(spark, [(k, f"v{k}")]), stats_col="id")
    expect = [(k, f"v{k}") for k in range(5)]

    calls = {"n": 0}
    real_unlink = txnlog.os.unlink

    def dying_unlink(path):
        if "_txn_log" in path and not path.split("/")[-1].startswith(".tmp-"):
            calls["n"] += 1
            if calls["n"] > 1:
                raise OSError("injected crash mid-truncate")
        return real_unlink(path)

    monkeypatch.setattr(txnlog.os, "unlink", dying_unlink)
    with pytest.raises(OSError, match="injected"):
        table.truncate_history()
    monkeypatch.setattr(txnlog.os, "unlink", real_unlink)

    # one old entry gone, the rest intact — still fully readable
    assert _rows(table.read()) == expect
    assert _rows(TxnTable(spark, table.path).read()) == expect
    # vacuum reclaims nothing still referenced by surviving state
    table.vacuum(retain_seconds=0.0)
    assert _rows(table.read()) == expect
    # the re-run finishes what the crash left behind
    dropped = table.truncate_history()
    assert dropped  # versions 1..3 (0 already unlinked by the dying run)
    assert _rows(table.read()) == expect
    assert _rows(TxnTable(spark, table.path).read()) == expect


def test_optimize_zorder_enables_two_dimension_pruned_deletes(spark, table):
    """OPTIMIZE ZORDER BY (a, b): after re-clustering, a pruned delete
    confined on EITHER dimension must skip directories (stats_multi),
    results must equal the unpruned law, and a later pruned MERGE on
    the first column still skips via the classic stats entry."""
    import random

    rng = random.Random(7)
    rows = [(k, rng.randint(0, 999)) for k in range(2000)]
    df = spark.createDataFrame(rows, "id INT, val INT")
    table.append(df, stats_col="id")
    table.optimize_zorder(["id", "val"], target_dirs=8)
    snap = table.snapshot()
    assert len(snap.dirs) == 8
    assert all("stats_multi" in snap.files[d] for d in snap.dirs)
    # boxes cover both dimensions with real data in them
    model = {k: v for k, v in rows}

    # dimension 2 (val) pruned delete
    table.delete_where(
        F.col("val").between(0, 99), prune_hint=("val", 0, 99)
    )
    removed_1 = len(table.history()[-1]["remove"])
    assert 1 <= removed_1 < 8, removed_1  # skipped some, not all
    model = {k: v for k, v in model.items() if not (0 <= v <= 99)}
    assert dict(_rows(table.read())) == model

    # dimension 1 (id) pruned delete over the z-ordered survivors
    table.delete_where(F.col("id") < 100, prune_hint=("id", 0, 99))
    removed_2 = len(table.history()[-1]["remove"])
    assert 1 <= removed_2 < 8, removed_2
    model = {k: v for k, v in model.items() if k >= 100}
    assert dict(_rows(table.read())) == model

    # classic single-col stats still present for first-column merges
    upd = spark.createDataFrame([(150, 5)], "id INT, val INT")
    table.merge(upd, ["id"])
    model[150] = 5
    assert dict(_rows(table.read())) == model
    assert len(table.history()[-1]["remove"]) <= 2  # pruned, not table-wide


# -- CHECK constraints ------------------------------------------------


def test_check_constraint_blocks_violating_writes(spark, table):
    from market_insights_app_spark.storage.txnlog import ConstraintViolation

    table.append(_mk(spark, [(1, "a"), (2, "b")]), stats_col="id")
    table.add_constraint("pos_id", "id > 0")
    table.add_constraint("val_set", "val IS NOT NULL")
    # compliant writes pass through every write path
    table.append(_mk(spark, [(3, "c")]), stats_col="id")
    table.merge(_mk(spark, [(2, "B")]), ["id"])
    # violating append aborts BEFORE publish; state unchanged
    before = _rows(table.read())
    v_before = table.snapshot().version
    with pytest.raises(ConstraintViolation, match="pos_id"):
        table.append(_mk(spark, [(-5, "x")]), stats_col="id")
    with pytest.raises(ConstraintViolation, match="val_set"):
        table.merge(
            spark.createDataFrame([(9, None)], "id INT, val STRING"), ["id"]
        )
    with pytest.raises(ConstraintViolation):
        table.overwrite(_mk(spark, [(-1, "z")]), stats_col="id")
    assert table.snapshot().version == v_before
    assert _rows(table.read()) == before
    # NULL passes a plain CHECK (SQL unknown-is-accepted), and the
    # aborted writes' orphan dirs are vacuum's to reclaim
    table.drop_constraint("val_set")
    table.merge(
        spark.createDataFrame([(9, None)], "id INT, val STRING"), ["id"]
    )
    assert (9, None) in _rows(table.read())


def test_add_constraint_validates_existing_rows_first(spark, table):
    from market_insights_app_spark.storage.txnlog import ConstraintViolation

    table.append(_mk(spark, [(0, "zero"), (1, "a")]), stats_col="id")
    with pytest.raises(ConstraintViolation, match="pos_id"):
        table.add_constraint("pos_id", "id > 0")
    assert table.snapshot().constraints == {}  # rejected, not recorded
    with pytest.raises(ValueError, match="does not exist"):
        table.drop_constraint("pos_id")
    table.add_constraint("nonneg", "id >= 0")
    with pytest.raises(ValueError, match="already exists"):
        table.add_constraint("nonneg", "id >= 0")


def test_constraints_survive_checkpoint_truncate_and_fresh_readers(
    spark, table
):
    from market_insights_app_spark.storage.txnlog import (
        ConstraintViolation,
        TxnTable as TT,
    )

    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    table.add_constraint("pos_id", "id > 0")
    # push past the checkpoint interval (fixture: every 4 commits)
    for k in range(2, 8):
        table.append(_mk(spark, [(k, f"v{k}")]), stats_col="id")
    table.truncate_history(retain_versions=2)
    t2 = TT(spark, table.path)  # resolves from the covering checkpoint
    assert t2.snapshot().constraints == {"pos_id": "id > 0"}
    with pytest.raises(ConstraintViolation):
        t2.append(_mk(spark, [(-1, "x")]), stats_col="id")
    assert (1, "a") in _rows(t2.read())


def test_streaming_merge_sink_honors_constraints(spark, tmp_path):
    """The foreachBatch MERGE sink inherits commit-time CHECK
    validation: a violating micro-batch fails the streaming query
    instead of landing, and the table keeps its pre-stream state."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_mk(spark, [(1, "a")]), stats_col="id")
    t.add_constraint("pos_id", "id > 0")
    src = tmp_path / "src"
    _mk(spark, [(2, "b"), (-3, "x")]).coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema("id INT, val STRING").parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(streaming_merge_sink(t, ["id"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises((StreamingQueryException, Py4JJavaError)) as exc:
        q.awaitTermination()
    assert "ConstraintViolation" in str(exc.value) or "pos_id" in str(exc.value)
    assert _rows(t.read()) == [(1, "a")]


def test_concurrent_constraint_adds_merge_not_clobber(spark, table):
    """Two writers adding DIFFERENT constraints concurrently: the
    set-commit is full-set-replace, so the loser must REBUILD from the
    winner's snapshot (rebase is disabled for constraint commits) and
    the final set must contain both — a lost-update here would
    silently drop a data contract."""
    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    errs: list[Exception] = []

    def adder(name, expr):
        try:
            table.add_constraint(name, expr)
        except Exception as e:  # pragma: no cover - diagnostics
            errs.append(e)

    ths = [
        threading.Thread(target=adder, args=("pos_id", "id > 0")),
        threading.Thread(target=adder, args=("val_set", "val IS NOT NULL")),
    ]
    [t.start() for t in ths]
    [t.join() for t in ths]
    assert not errs
    assert table.snapshot().constraints == {
        "pos_id": "id > 0",
        "val_set": "val IS NOT NULL",
    }


def test_constraint_on_evolved_column_with_narrow_evolve_append(spark, table):
    """A CHECK on an evolved column must not break a narrower
    evolve-append: the batch reads back with the column null-filled,
    NULL passes CHECK (the verdict a later reader reaches), and the
    constraint still blocks rows that DO carry a violating value."""
    from market_insights_app_spark.storage.txnlog import ConstraintViolation

    table.append(_mk(spark, [(1, "a")]), stats_col="id")
    wide = spark.createDataFrame([(2, "b", 0.5)], ["id", "val", "score"])
    table.merge(wide, ["id"], evolve_schema=True)
    table.add_constraint("score_range", "score BETWEEN 0 AND 1")
    # narrow evolve-append: score null-filled -> passes
    table.append(_mk(spark, [(3, "c")]), stats_col="id", evolve_schema=True)
    got = {r.id: r.score for r in table.read().collect()}
    assert got == {1: None, 2: 0.5, 3: None}
    # a wide append carrying a violating score still blocks
    bad = spark.createDataFrame([(4, "d", 7.0)], ["id", "val", "score"])
    with pytest.raises(ConstraintViolation, match="score_range"):
        table.append(bad, stats_col="id", evolve_schema=True)
    assert 4 not in {r.id for r in table.read().collect()}
