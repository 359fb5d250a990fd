"""``quote_ingest``: writes beside reads, as an open loop.

A generator drops seeded quote files on a fixed schedule; a Structured
Streaming file source with a processing-time trigger sinks each file
(one per micro-batch) through ``storage/txnlog.streaming_merge_sink``
(with ``app`` exactly-once markers) into a ``TxnTable``.  One reader
thread polls "latest quotes for a watchlist" off the table on a fixed
schedule, each read waiting for its answer, while ``optimize`` and
``vacuum`` run as background maintenance after every second commit.
Writers contend only through the table's own commit log.  Freshness is
timed from each file's due time to the commit that makes it readable.

The only workload where ``storage`` and ``streaming`` do most of the
work: a write-path gain that costs read latency or disk space shows
here."""

from __future__ import annotations

import os
import threading
import time

from perfbench import gen
from perfbench.harness import (
    SMALL_WARM_S, WARM_S, StageCounters, add_counts, cpu_seconds, spark_layer_counts,
)
from perfbench.stats import mean, percentile, summarize, tail_entry

INTERVAL_S = 3.75  # well below the sustainable rate; see the README
ROWS_PER_FILE = 300
TRIGGER = "250 milliseconds"
# a maintenance pass starts right after every second commit, in the gap
# before the next file is due, so a window of whole slots holds a fixed
# number of passes and a pass rarely races a merge
MAINTAIN_EVERY_COMMITS = 2
RETAIN_VERSIONS = 10  # log retention, so vacuum can reclaim old versions
# vacuum's age guard: a merge's staged, not yet committed directory is
# younger than this, so maintenance never deletes in-flight data
VACUUM_RETAIN_S = 5.0
WATCHLIST = 10
READ_EVERY_S = 0.5  # the reader polls on this schedule, each read waiting for its answer
KEY = ["symbol"]
APP = "quote_ingest"
SCHEMA = "symbol STRING, price DOUBLE, as_of TIMESTAMP_NTZ, seq BIGINT, file_no INT"


def prepare(seed: int, tmp: str, small: bool = False) -> dict:
    """The probe file the set-up query reads, and the watchlist (drawn
    from the first file's symbols, so every read finds all of them)."""
    first, _ = gen.quote_files(seed, 1, ROWS_PER_FILE)
    probe = os.path.join(tmp, "probe")
    os.makedirs(probe, exist_ok=True)
    gen.drop_quote_file(first[0], tmp, probe, 0)
    rng = gen.rng_for(seed, "watchlist")
    symbols = first[0].column("symbol").to_pylist()
    return {"seed": seed, "probe": probe, "warm_s": SMALL_WARM_S if small else WARM_S,
            "watchlist": sorted(rng.choice(symbols, size=WATCHLIST, replace=False).tolist())}


def first_query(spark, inputs) -> None:
    spark.read.parquet(inputs["probe"]).count()


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class _Ingest:
    def __init__(self, spark, inputs, tables, run_dir, tracer):
        from market_insights_app_spark.storage.txnlog import TxnTable, streaming_merge_sink

        self.spark, self.inputs, self.tables, self.tracer = spark, inputs, tables, tracer
        self.dirs = {k: os.path.join(run_dir, k) for k in ("quotes", "stage", "table", "ckpt")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.table = TxnTable(spark, self.dirs["table"])
        self.sink = streaming_merge_sink(self.table, KEY, app=APP)
        self.stop = threading.Event()
        self.maint_due = threading.Event()
        self.commits: dict[int, float] = {}
        # traced only: (batch, merge ms, commit entry, bytes the commit added)
        self.merges: list[tuple[int, float, dict, int]] = []
        self.reads: list[tuple[float, float, float]] = []  # (start, snapshot ms, total ms)
        self.maint: list[tuple[str, float, int]] = []  # (op, s, bytes reclaimed)
        self.maint_conflicts = 0
        self.errors: list[str] = []
        self.due: dict[int, float] = {}
        self.late: list[float] = []
        self.file_bytes: dict[int, int] = {}
        self.backlog_max = 0
        self.counters = StageCounters(spark) if tracer.enabled else None

    # -- the foreachBatch sink ------------------------------------------
    def on_batch(self, batch, batch_id: int) -> None:
        with self.tracer.span("streaming", "foreach_batch", f"batch-{batch_id}"):
            if self.counters is not None:
                self.spark.sparkContext.setJobGroup(f"batch-{batch_id}", "merge")
            t = time.perf_counter()
            with self.tracer.span("storage", "merge"):
                self.sink(batch, batch_id)
            took = time.perf_counter() - t
        self.commits[batch_id] = time.perf_counter()
        if batch_id % MAINTAIN_EVERY_COMMITS == MAINTAIN_EVERY_COMMITS - 1:
            self.maint_due.set()
        if self.counters is not None:
            self.merges.append((batch_id, took * 1e3, *self._commit_of(batch_id)))

    def _commit_of(self, batch_id: int) -> tuple[dict, int]:
        """This batch's commit entry and the bytes it added, read right
        after the merge, before maintenance can truncate or vacuum."""
        for c in reversed(self.table.history()):
            if c.get("txn") == {"app": APP, "id": batch_id}:
                added = sum(_du(os.path.join(self.table.path, a["dir"])) for a in c["add"])
                return c, added
        return {}, 0

    # -- background threads ---------------------------------------------
    def reader(self) -> None:
        from pyspark.sql import functions as F

        watch = self.inputs["watchlist"]
        due = time.perf_counter()
        while not self.stop.wait(max(0.0, due - time.perf_counter())):
            s = time.perf_counter()
            due = s + READ_EVERY_S
            try:
                with self.tracer.span("storage", "snapshot", "read"):
                    snap = self.table.snapshot()
                snap_ms = (time.perf_counter() - s) * 1e3
                with self.tracer.span("storage", "read", "read"):
                    rows = (self.table.read(snap.version)
                            .filter(F.col("symbol").isin(watch)).collect())
            except Exception as e:  # noqa: BLE001 - a failed read is a result
                self.errors.append(f"read: {e!r}"[:300])
                continue
            if len(rows) != len(watch):
                self.errors.append(f"read returned {len(rows)} of {len(watch)} symbols")
            self.reads.append((s, snap_ms, (time.perf_counter() - s) * 1e3))

    def maintainer(self) -> None:
        from market_insights_app_spark.storage.txnlog import CommitConflict

        data = os.path.join(self.dirs["table"], "data")
        while not self.stop.is_set():
            if not self.maint_due.wait(0.1):
                continue
            self.maint_due.clear()
            try:
                t = time.perf_counter()
                with self.tracer.span("storage", "optimize", "maintenance"):
                    self.table.optimize("symbol", target_dirs=2)
                self.maint.append(("optimize", time.perf_counter() - t, 0))
            except CommitConflict:
                # lost every optimistic retry to the merges: background
                # compaction yields to foreground writes and tries later
                self.maint_conflicts += 1
            except Exception as e:  # noqa: BLE001 - a failed maintenance pass is a result
                self.errors.append(f"optimize: {e!r}"[:300])
            try:
                self.table.truncate_history(RETAIN_VERSIONS)
                before = _du(data)
                t = time.perf_counter()
                with self.tracer.span("storage", "vacuum", "maintenance"):
                    self.table.vacuum(retain_seconds=VACUUM_RETAIN_S)
                self.maint.append(("vacuum", time.perf_counter() - t, max(0, before - _du(data))))
            except Exception as e:  # noqa: BLE001 - a failed maintenance pass is a result
                self.errors.append(f"vacuum: {e!r}"[:300])

    def drop(self, f: int) -> None:
        self.file_bytes[f] = gen.drop_quote_file(
            self.tables[f], self.dirs["stage"], self.dirs["quotes"], f
        )

    def wait_commit(self, f: int, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while f not in self.commits and time.perf_counter() < deadline:
            time.sleep(0.01)
        return f in self.commits


def measure(spark, inputs, seconds: float, tracer, meter, run_dir: str) -> dict:
    """File 0 starts the stream; then files are due one per
    ``INTERVAL_S`` with the reader and maintenance running.  The first
    ``warm_s`` of that schedule is untimed; files due and reads started
    in the next ``seconds`` are measured, then the stream drains."""
    n_warm = int(inputs["warm_s"] / INTERVAL_S)
    n_files = 1 + n_warm + max(1, int(seconds / INTERVAL_S))
    tables, expected = gen.quote_files(inputs["seed"], n_files, ROWS_PER_FILE)
    ing = _Ingest(spark, inputs, tables, run_dir, tracer)
    query = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(ing.dirs["quotes"])
        .writeStream.foreachBatch(ing.on_batch)
        .trigger(processingTime=TRIGGER)
        .option("checkpointLocation", ing.dirs["ckpt"])
        .start()
    )
    threads = []
    try:
        ing.drop(0)
        if not ing.wait_commit(0, 120):
            raise RuntimeError("the stream never committed its first file")
        threads = [threading.Thread(target=ing.reader), threading.Thread(target=ing.maintainer)]
        for t in threads:
            t.start()
        t0 = time.perf_counter()
        timed_from = t0 + n_warm * INTERVAL_S
        timed_to = t0 + (n_files - 1) * INTERVAL_S
        cpu0 = None
        for f in range(1, n_files):
            due = t0 + (f - 1) * INTERVAL_S
            time.sleep(max(0.0, due - time.perf_counter()))
            if due >= timed_from and cpu0 is None:
                cpu0, jit0 = cpu_seconds(), meter.jit_seconds()
            ing.drop(f)
            if due >= timed_from:
                ing.due[f] = due
                ing.late.append((time.perf_counter() - due) * 1e3)
                ing.backlog_max = max(ing.backlog_max, f + 1 - len(ing.commits))
        time.sleep(max(0.0, timed_to - time.perf_counter()))
        jit_s = meter.jit_seconds() - jit0
        cpu_s = cpu_seconds() - cpu0 - jit_s
        drained = ing.wait_commit(n_files - 1, 120)
    finally:
        ing.stop.set()
        for t in threads:
            t.join()
        progress = query.recentProgress
        query.stop()
    if not drained:
        ing.errors.append("stream did not drain the schedule")
    first_timed = min(ing.due)
    ing.reads = [r for r in ing.reads if timed_from <= r[0] < timed_to]
    ing.merges = [m for m in ing.merges if m[0] >= first_timed]
    wall = timed_to - timed_from

    fresh = [(ing.commits[f] - ing.due[f]) * 1e3 for f in ing.due if f in ing.commits]
    read_ms = [r[2] for r in ing.reads]
    bad = check(ing.table, expected)
    live = ing.table.snapshot()
    live_bytes = sum(_du(os.path.join(ing.dirs["table"], d)) for d in live.dirs)
    fs, rs = summarize(fresh), summarize(read_ms)
    res = {
        "attempted": len(ing.due) + len(ing.reads),
        "failed": len(ing.errors) + len(bad),
        "e2e": {"p50_ms": fs["p50"], "cpu_ms_per_op": cpu_s * 1e3 / len(ing.due)},
        "report": {
            "files": len(ing.due),
            "rows_per_file": ROWS_PER_FILE,
            "arrival_files_per_s": 1.0 / INTERVAL_S,
            "ingest_fresh_p50_ms": fs["p50"],
            **tail_entry("ingest_fresh", fs),
            "ingest_read_p50_ms": rs["p50"],
            **tail_entry("ingest_read", rs),
            "reads": len(read_ms),
            "ingest_reads_per_s": len(read_ms) / wall,
            "ingest_jit_ms_per_file": jit_s * 1e3 / len(ing.due),
            "space_amp": _du(ing.dirs["table"]) / max(1, live_bytes),
            "generator_late_p50_ms": percentile(ing.late, 50),
            "generator_late_max_ms": max(ing.late),
            "backlog_files_max": ing.backlog_max,
            "maintenance_passes": sum(1 for op, _, _ in ing.maint if op == "vacuum"),
            "maintenance_conflicts": ing.maint_conflicts,
            "check_failures": bad,
            "errors": ing.errors[:5],
        },
    }
    if tracer.enabled:
        res["layers"] = _layers(ing, progress, live, wall)
    return res


def check(table, expected: dict) -> list[str]:
    """The final table equals the last write per key over every dropped
    file, with no duplicate keys."""
    rows = table.read().select("symbol", "price", "seq", "file_no").collect()
    bad = []
    got = {r.symbol: (r.price, r.seq, r.file_no) for r in rows}
    if len(got) != len(rows):
        bad.append(f"{len(rows) - len(got)} duplicate keys")
    if got != expected:
        diff = sum(1 for k in expected if got.get(k) != expected[k]) + len(set(got) - set(expected))
        bad.append(f"{diff} keys differ from the last write")
    return bad


def _layers(ing, progress, live, wall) -> dict:
    batches = ing.merges
    totals: dict = {}
    ing.counters.flush()
    for b, _, _, _ in batches:
        add_counts(totals, ing.counters.group(f"batch-{b}"))
    n = max(1, len(batches))
    merge_ms = [m for _, m, _, _ in batches]
    commits = [c for _, _, c, _ in batches if c]
    prog = [p for p in progress if p.get("batchId", -1) >= min(ing.due) and p.get("numInputRows")]

    def dur(key):
        return mean([p["durationMs"].get(key, 0) for p in prog])

    opt = [s for op, s, _ in ing.maint if op == "optimize"]
    vac = [s for op, s, _ in ing.maint if op == "vacuum"]
    live_files = sum(
        1 for d in live.dirs for _, _, fs in os.walk(os.path.join(ing.dirs["table"], d))
        for f in fs if f.endswith(".parquet")
    )
    return {
        **spark_layer_counts(totals, n, wall),
        "storage.merge_p50_ms": percentile(merge_ms, 50) if merge_ms else 0.0,
        "storage.merge_p90_ms": percentile(merge_ms, 90) if merge_ms else 0.0,
        "storage.dirs_rewritten_per_merge": mean([len(c.get("remove", [])) for c in commits]),
        "storage.write_amp": sum(a for _, _, _, a in batches)
        / max(1, sum(ing.file_bytes[b] for b, _, _, _ in batches)),
        # version - read_version: 1 when the first publish won, +1 per rebase
        "storage.commit_retries": mean([c["version"] - c["read_version"] for c in commits]),
        "storage.snapshot_ms": mean([r[1] for r in ing.reads]),
        "storage.read_ms": mean([r[2] for r in ing.reads]),
        "storage.live_files": live_files,
        "storage.log_versions": live.version + 1,
        "storage.optimize_s": mean(opt),
        "storage.vacuum_s": mean(vac),
        "storage.bytes_reclaimed": sum(b for _, _, b in ing.maint),
        "storage.maint_conflicts": ing.maint_conflicts,
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.plan_ms": dur("queryPlanning"),
        "streaming.wal_ms": dur("walCommit"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.rows_per_batch": mean([p["numInputRows"] for p in prog]),
        "streaming.backlog_files": ing.backlog_max,
    }
