"""ACID table layer over plain parquet: ordered commit log + optimistic
concurrency — the transactional MERGE/upsert the reference's SQLite
`INSERT OR REPLACE` / update-else-insert flows get for free from their
single-writer database (reference db.py:166-201 session/journal upserts,
db.py:517-525 REPLACE), re-expressed for a multi-writer distributed
filesystem.

Design (public knowledge: the Delta Lake protocol, Armbrust et al.,
VLDB 2020 — re-implemented from the paper's ideas, no Delta code):

* A table is a directory.  Data lives in immutable per-commit
  subdirectories ``data/<uuid>/part-*.parquet``; the authoritative
  state is the ordered log ``_txn_log/<version>.json``.  A data file
  is part of the table iff some committed version references it —
  readers never see half-written data because data directories are
  fully written BEFORE the commit record that publishes them.
* Commit = atomically creating log entry N+1.  Atomicity comes from
  ``os.link`` (fail-if-exists) of a fully-written temp file — a log
  entry is complete the instant it is visible.  Exactly one writer
  wins a version; losers detect the collision and either REBASE
  (key-disjoint winner — bump the version and re-publish the same
  rewrite) or RETRY (re-run the merge against the new snapshot).
* Snapshot isolation: a reader resolves a version once and reads only
  the files that version references; concurrent commits are invisible.
  Time travel = resolving an older version (until `vacuum`).
* Data skipping: each add-entry records min/max of the first merge key
  for its directory, so MERGE rewrites only directories whose key
  range overlaps the updates — at 100 TB a merge into a key-sorted
  table touches O(updates) files, not O(table).
* Log replay cost is bounded by checkpoints: every
  ``checkpoint_interval`` commits the full live-file map is written to
  ``_txn_log/checkpoint-<version>.json``; a snapshot reads one
  checkpoint + at most ``checkpoint_interval`` JSON deltas (driver-side
  metadata only — never data).

Honest scope:

* The fail-if-exists primitive is atomic on POSIX filesystems (and
  HDFS create-no-overwrite).  Object stores without atomic
  put-if-absent (plain S3) need an external log store for the same
  guarantee — exactly the documented Delta-on-S3 caveat — so the
  constructor rejects ``://`` URIs rather than silently weakening the
  contract.
* The first commit records the table schema, and every later commit
  carries the schema its data reads back under.  A write whose
  columns differ from the recorded ones fails loudly unless it
  passes ``evolve_schema=True`` (append/merge — the Delta
  ``mergeSchema`` analog), which adds the new columns and lets
  shared ones widen; renames and drops are out of scope.
* Every write operation builds and publishes its commit through one
  optimistic loop (``_commit_loop``), so retry, rebase and
  checkpoint rules live in one place.
* ``last_txn`` scans the log newest-first (driver-side JSON); a
  production deployment would fold per-app watermarks into the
  checkpoint."""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from market_insights_app_spark.operators.layout import (
    layout_stats,
    linear_assign,
    zorder_assign,
)

LOG_DIR = "_txn_log"
DATA_DIR = "data"
_V_WIDTH = 20
_CP_PREFIX = "checkpoint-"


class CommitConflict(Exception):
    """Raised when optimistic commit loses ``max_retries`` times in a
    row — the table is under heavier write contention than the caller
    budgeted for."""


class ConstraintViolation(Exception):
    """Raised when incoming rows fail a table CHECK constraint — the
    write is aborted BEFORE its commit record publishes, so readers
    never see the violating rows."""


def _fmt_version(v: int) -> str:
    return f"{v:0{_V_WIDTH}d}.json"


def _fmt_checkpoint(v: int) -> str:
    return f"{_CP_PREFIX}{_fmt_version(v)}"


def _struct(schema_json: str) -> StructType:
    return StructType.fromJson(json.loads(schema_json))


def _data_root(rel: str) -> str:
    """The physical ``data/<uuid>`` directory holding add-entry ``rel``
    (a compaction's entries are per-file subdirectories of one root)."""
    return "/".join(rel.split("/")[:2])


def _overlaps(s: dict | None, lo, hi) -> bool:
    """Min/max pruning test: False only when the recorded range ``s``
    is provably disjoint from [lo, hi].  No stats, or stats of a type
    that does not compare with the bounds (schema drift), cannot
    prune — correct, just not skipped."""
    if s is None:
        return True
    try:
        return not (s["max"] < lo or s["min"] > hi)
    except TypeError:
        return True


def _stat_value(v):
    """JSON-safe ordered encoding of a min/max stat, or None when the
    type has no order-preserving JSON form (then the file is never
    pruned — correct, just not skipped)."""
    import datetime

    if v is None:
        return None
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        # ISO-8601 compares lexicographically in chronological order
        return v.isoformat()
    return None


@dataclass
class Snapshot:
    """Resolved table state at one version: immutable once built."""

    version: int
    files: dict[str, dict] = field(default_factory=dict)  # dir -> add entry
    schema_json: str | None = None
    constraints: dict[str, str] = field(default_factory=dict)  # name -> CHECK sql

    @property
    def dirs(self) -> list[str]:
        return sorted(self.files)


class TxnTable:
    """One transactional parquet table.  All methods are safe to call
    from concurrent writers (threads or processes) on the same path;
    every write method returns the committed version number."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int = 10,
    ):
        if "://" in path:
            raise NotImplementedError(
                "TxnTable needs an atomic fail-if-exists commit primitive; "
                "object-store URIs require an external log store "
                "(the Delta-on-S3 caveat) — use a POSIX path here"
            )
        self.spark = spark
        self.path = os.path.abspath(path)
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(os.path.join(self.path, LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(self.path, DATA_DIR), exist_ok=True)

    # -- log plumbing ------------------------------------------------

    def _log_path(self) -> str:
        return os.path.join(self.path, LOG_DIR)

    def _versions(self) -> list[int]:
        out = []
        for f in os.listdir(self._log_path()):
            if f.endswith(".json") and not f.startswith((_CP_PREFIX, ".")):
                out.append(int(f[: -len(".json")]))
        out.sort()
        # a racing listdir can observe version N+1 while missing N (no
        # directory-listing snapshot on POSIX); replay only the
        # contiguous run so a snapshot is always a real table state.
        # The run is anchored at the OLDEST visible entry, not at 0:
        # truncate_history() deletes old entries only AFTER publishing
        # a checkpoint that covers everything below the survivors, and
        # deletes oldest-first, so any anchor a reader can observe is
        # either 0 or checkpoint-covered (snapshot() enforces that).
        if not out:
            return []
        contiguous = []
        base = out[0]
        for i, v in enumerate(out):
            if v != base + i:
                break
            contiguous.append(v)
        return contiguous

    def _read_commit(self, v: int) -> dict:
        with open(os.path.join(self._log_path(), _fmt_version(v))) as fh:
            return json.load(fh)

    def _link_new(self, name: str, body: dict) -> bool:
        """Atomically create log file `name` holding `body`; True iff
        this call created it.  The temp file is fully written and
        fsynced before the link, so a visible log file is always
        complete and its bytes are on disk."""
        log = self._log_path()
        tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(body, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, os.path.join(log, name))  # atomic fail-if-exists
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _publish(self, version: int, payload: dict) -> bool:
        """Atomically publish commit `version`.  True iff this writer
        won the version."""
        return self._link_new(_fmt_version(version), payload)

    def _checkpoint(self, snap: Snapshot) -> None:
        """Write the full live map for `snap`.  Replay is deterministic,
        so racing writers produce identical content — a lost link is
        benign."""
        self._link_new(
            _fmt_checkpoint(snap.version),
            {
                "version": snap.version,
                "files": snap.files,
                "schema": snap.schema_json,
                "constraints": snap.constraints,
            },
        )

    def _checkpoint_versions(self) -> list[int]:
        return sorted(
            int(f[len(_CP_PREFIX) : -len(".json")])
            for f in os.listdir(self._log_path())
            if f.startswith(_CP_PREFIX) and f.endswith(".json")
        )

    def _read_checkpoint(self, v: int) -> dict:
        with open(os.path.join(self._log_path(), _fmt_checkpoint(v))) as fh:
            return json.load(fh)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Resolve the live file set at `version` (default: latest).
        Driver-side metadata replay only — one checkpoint JSON plus at
        most `checkpoint_interval` delta JSONs; data files are never
        touched."""
        versions = self._versions()
        if not versions:
            return Snapshot(version=-1)
        target = versions[-1] if version is None else version
        if target not in versions:
            raise ValueError(
                f"version {target} not in log (have {versions[0]}..{versions[-1]})"
            )
        snap = Snapshot(version=-1)
        older = [v for v in self._checkpoint_versions() if v <= target]
        cp = self._read_checkpoint(older[-1]) if older else None
        if versions[0] > 0 and (cp is None or cp["version"] < versions[0] - 1):
            # only truncate_history() can remove version 0, and it
            # publishes a covering checkpoint first — a hole here means
            # the log was tampered with, not truncated
            raise ValueError(
                f"log starts at version {versions[0]} with no checkpoint "
                "covering the truncated prefix"
            )
        if cp is not None:
            snap = Snapshot(
                version=cp["version"],
                files=dict(cp["files"]),
                schema_json=cp.get("schema"),
                constraints=dict(cp.get("constraints", {})),
            )
        for v in versions:
            if v <= snap.version or v > target:
                continue
            c = self._read_commit(v)
            for d in c.get("remove", []):
                snap.files.pop(d, None)
            for a in c.get("add", []):
                snap.files[a["dir"]] = a
            snap.schema_json = c.get("schema", snap.schema_json)
            if "constraints" in c:  # set/drop commits carry the full set
                snap.constraints = dict(c["constraints"])
            snap.version = v
        return snap

    def history(self) -> list[dict]:
        """All commit records, oldest first (op, read_version, counts)."""
        return [self._read_commit(v) for v in self._versions()]

    # -- data plumbing -----------------------------------------------

    def _write_data(self, df: DataFrame, stats_col: str | None) -> dict:
        """Write `df` into a fresh immutable data directory and return
        its add-entry (dir, rows, key-range stats).  Stats ride the
        write job itself as observed metrics (r13) — the rows that
        flow into the files ARE the aggregated rows, so the values are
        the ones a read-back scan of the new directory would return
        (Spark parquet round-trips every SQL type losslessly), without
        the extra per-write job the old read-back pass paid.  Observed
        metrics count only successful tasks, so a task retry cannot
        double-count (and this table's writers run with speculation
        off, the same premise the crawl accumulators document)."""
        from pyspark.sql import Observation

        rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        full = os.path.join(self.path, rel)
        obs = Observation()
        if stats_col is not None and stats_col in df.columns:
            watched = df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.min(stats_col).alias("lo"),
                F.max(stats_col).alias("hi"),
            )
        else:
            stats_col = None
            watched = df.observe(obs, F.count(F.lit(1)).alias("n"))
        watched.write.mode("errorifexists").parquet(full)
        row = obs.get
        entry: dict = {"dir": rel, "rows": row["n"]}
        if stats_col is not None:
            lo, hi = _stat_value(row["lo"]), _stat_value(row["hi"])
            if lo is not None and hi is not None:
                entry["stats"] = {"col": stats_col, "min": lo, "max": hi}
        return entry

    def _write_files(self, laid: DataFrame, cols: list[str]) -> list[dict]:
        """Write `laid` (rows tagged with their file in ``__file`` by an
        operators/layout assigner) as ONE directory of ``__file=i``
        subdirectories; return one add-entry each, with the first
        column's range in ``stats`` and, for several columns, every
        range in ``stats_multi``.  Stats come from the WRITTEN files:
        one write job + one grouped footer-scan job, never one per file."""
        rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        full = os.path.join(self.path, rel)
        laid.write.mode("errorifexists").partitionBy("__file").parquet(full)
        rows = layout_stats(self.spark.read.parquet(full), cols).collect()
        entries = []
        for r in sorted(rows, key=lambda r: r["__file"]):
            e: dict = {"dir": f"{rel}/__file={r['__file']}", "rows": r["n_rows"]}
            multi = {}
            for c in cols:
                lo, hi = _stat_value(r[f"min_{c}"]), _stat_value(r[f"max_{c}"])
                if lo is not None and hi is not None:
                    multi[c] = {"min": lo, "max": hi}
            if cols[0] in multi:
                e["stats"] = {"col": cols[0], **multi[cols[0]]}
            if len(cols) > 1 and multi:
                e["stats_multi"] = multi
            entries.append(e)
        return entries

    def _check_constraints(self, df: DataFrame, constraints: dict[str, str]) -> None:
        """Raise :class:`ConstraintViolation` if any row of ``df``
        fails a CHECK expression.  SQL CHECK semantics: a row violates
        only when the expression evaluates to FALSE — NULL passes (the
        standard's unknown-is-accepted rule; spell NOT NULL explicitly
        as ``col IS NOT NULL``).  Fast path is ONE probe job that
        stops at the first violating row across all constraints; the
        per-constraint attribution job runs only on the error path."""
        if not constraints:
            return
        viol = " OR ".join(
            f"NOT coalesce(({e}), true)" for e in constraints.values()
        )
        if not df.filter(F.expr(viol)).limit(1).collect():
            return
        names = [
            n
            for n, e in constraints.items()
            if df.filter(F.expr(f"NOT coalesce(({e}), true)")).limit(1).collect()
        ]
        raise ConstraintViolation(
            f"rows violate CHECK constraint(s) {names} on {self.path}"
        )

    def _check_new_rows(self, checked: set[str], constraints: dict[str, str],
                        rows, drop: str | None = None) -> None:
        """Validate a write's incoming rows (``rows()``) once per
        distinct CHECK set (fingerprints in ``checked``), so a retry
        re-validates only when a constraint landed mid-race.  A
        violation drops the write's data directory ``drop``."""
        fp = json.dumps(constraints, sort_keys=True)
        if not constraints or fp in checked:
            return
        try:
            self._check_constraints(rows(), constraints)
        except ConstraintViolation:
            if drop is not None:
                self._drop_data(drop)
            raise
        checked.add(fp)

    def _evolved_schema(self, schema_json: str, df: DataFrame) -> str:
        """The recorded schema evolved by `df` — Spark's own union
        promotion: new columns are added, shared ones may widen (e.g.
        int→long; Spark 4 parquet type widening reads old files)."""
        return (
            self.spark.createDataFrame([], _struct(schema_json))
            .unionByName(df, allowMissingColumns=True)
            .schema.json()
        )

    def _drop_data(self, rel: str) -> None:
        shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)

    def _drop_written(self, add: list[dict]) -> None:
        """`on_stale` for a rewrite built against a stale snapshot:
        drop the physical roots of its add entries."""
        for root in {_data_root(a["dir"]) for a in add}:
            self._drop_data(root)

    def _read_dirs(self, dirs: list[str], schema_json: str | None) -> DataFrame:
        if not dirs:
            if schema_json is None:
                raise ValueError("empty table with no recorded schema")
            return self.spark.createDataFrame([], _struct(schema_json))
        paths = [os.path.join(self.path, d) for d in dirs]
        if schema_json is not None:
            # read under the SNAPSHOT's recorded schema: after a
            # schema-evolving merge, directories written before the
            # evolution lack the new columns — the explicit schema
            # null-fills them (per-file pruning still applies), and
            # time travel to a pre-evolution version keeps the old
            # schema because its snapshot records the old JSON
            return self.spark.read.schema(_struct(schema_json)).parquet(*paths)
        return self.spark.read.parquet(*paths)

    def read(self, version: int | None = None) -> DataFrame:
        """The table as a DataFrame at `version` (default latest) —
        snapshot-isolated: commits after the resolve are invisible."""
        snap = self.snapshot(version)
        if snap.version < 0:
            raise ValueError(f"table {self.path} has no commits")
        return self._read_dirs(snap.dirs, snap.schema_json)

    # -- write operations --------------------------------------------

    def _commit_loop(
        self,
        op: str,
        build,  # Snapshot -> (add_entries, remove_dirs) ; data already written
        max_retries: int,
        rebase_safe=None,  # (our (add,remove), winning commit dict) -> bool
        on_stale=None,  # add_entries -> None: reclaim snapshot-dependent data
        schema_json: str | None = None,  # fallback when the table is new
        txn: tuple[str, int] | None = None,  # (app, id) idempotence marker
        schema_from=None,  # () -> json | None: evolved schema set by build
        extra=None,  # () -> dict: additional payload fields set by build
    ) -> int:
        """The one optimistic-concurrency loop every write goes
        through.  `build` runs against a fresh snapshot and returns
        the rewrite; on a lost publish the winning commit is examined
        — if it satisfies `rebase_safe` the same rewrite is
        re-published at a higher version (no data re-written, no
        re-read), else `on_stale` reclaims the snapshot-dependent data
        directories and `build` re-runs (always, without
        `rebase_safe`)."""
        attempts = 0
        while attempts < max_retries:
            snap = self.snapshot()
            add, remove = build(snap)
            version = snap.version + 1
            payload = {
                "version": version,
                "op": op,
                "read_version": snap.version,
                "add": add,
                "remove": remove,
                "schema": (
                    (schema_from() if schema_from is not None else None)
                    or snap.schema_json
                    or schema_json
                ),
                "ts": time.time(),
                "writer": f"{os.getpid()}-{uuid.uuid4().hex[:8]}",
            }
            if txn is not None:
                payload["txn"] = {"app": txn[0], "id": txn[1]}
            if extra is not None:
                payload.update(extra())
            while attempts < max_retries:
                attempts += 1
                if self._publish(version, payload):
                    if (version + 1) % self.checkpoint_interval == 0:
                        self._checkpoint(self.snapshot(version))
                    return version
                try:
                    winner = self._read_commit(version)
                except FileNotFoundError:
                    winner = None  # publish failed without a visible winner
                if (
                    winner is not None
                    and rebase_safe is not None
                    # a winner that changed the recorded schema (e.g. an
                    # evolve_schema merge) must NOT be rebased over: our
                    # payload would stamp the stale schema back onto the
                    # log and hide the winner's new columns — rebuild
                    # against a fresh snapshot instead
                    and winner.get("schema") == payload["schema"]
                    # likewise a winner that changed the CHECK set: a
                    # rebase would publish rows never validated against
                    # the new constraints — rebuild and re-validate
                    and "constraints" not in winner
                    and rebase_safe((add, remove), winner)
                ):
                    version += 1
                    payload = {**payload, "version": version}
                    continue
                if on_stale is not None:
                    on_stale(add)
                break
        raise CommitConflict(
            f"lost {max_retries} optimistic commits on {self.path} ({op})"
        )

    def append(self, df: DataFrame, stats_col: str | None = None,
               max_retries: int = 20, evolve_schema: bool = False) -> int:
        """Blind INSERT: no table read, and a lost race never rewrites
        the data — it only re-runs the cheap checks below against the
        fresh snapshot and publishes at the next version.  The add
        carries the DataFrame's own schema so the first commit defines
        the table.

        ``evolve_schema=True`` (the Delta ``mergeSchema`` write
        analog): a frame with NEW columns widens the recorded schema
        (Spark's own union promotion — shared columns may widen, e.g.
        int→long; earlier directories read back null-filled/widened
        under the explicit-schema read), and a frame MISSING nullable
        table columns commits with those columns null-filled on read.
        Recomputed per retry against the fresh snapshot, so a lost
        race against another schema-changing writer still evolves
        from the winning schema."""
        entry = self._write_data(df, stats_col)
        schema_json = df.schema.json()
        checked: set[str] = set()
        state: dict = {}

        def build(snap: Snapshot):
            diverged = snap.schema_json not in (None, schema_json)
            evolved = (
                self._evolved_schema(snap.schema_json, df)
                if evolve_schema and diverged
                else None
            )
            # enforce CHECK constraints against THIS snapshot's set;
            # the loop re-snapshots every attempt, so a constraint that
            # lands mid-race is re-validated, never bypassed.
            # Validate under the schema the data will READ back with
            # (evolve-appends missing a constrained evolved column are
            # null-filled → NULL passes CHECK, the same verdict a later
            # reader reaches; a raw read would AnalysisException on the
            # absent column instead)
            self._check_new_rows(
                checked, snap.constraints,
                lambda: self._read_dirs([entry["dir"]], evolved),
                drop=entry["dir"],
            )
            state["schema"] = evolved
            if diverged and not evolve_schema:
                # the module contract is fail-loud on divergence: an
                # unchecked mismatched append would commit fine and
                # _read_dirs' explicit-schema read would then silently
                # null-fill missing columns and drop extra ones.
                # Compare name->type sets (parquet + explicit-schema read
                # matches by NAME, so column order is harmless;
                # nullability is advisory in parquet and Spark frames
                # flip it freely)
                shape = lambda st: sorted(  # noqa: E731
                    ((f.name, f.dataType) for f in st.fields),
                    key=lambda t: t[0],
                )
                base = _struct(snap.schema_json)
                if shape(df.schema) != shape(base):
                    self._drop_data(entry["dir"])
                    raise ValueError(
                        "append frame schema diverges from the table's "
                        f"recorded schema: table {shape(base)}, frame "
                        f"{shape(df.schema)}"
                    )
            return [entry], []

        return self._commit_loop(
            "append", build, max_retries, schema_json=schema_json,
            schema_from=lambda: state["schema"],
        )

    def overwrite(self, df: DataFrame, stats_col: str | None = None,
                  max_retries: int = 10) -> int:
        """Full-table replace (the reference's seed-reset shape, S9).
        The replacement data is snapshot-independent, so a lost race
        only re-runs the cheap `build` (recomputing the remove list
        against the fresh snapshot) — never the data write.  It never
        rebases: the remove list must cover every concurrent commit."""
        entry = self._write_data(df, stats_col)
        checked: set[str] = set()

        def build(snap: Snapshot):
            self._check_new_rows(
                checked, snap.constraints,
                lambda: self._read_dirs([entry["dir"]], None),
                drop=entry["dir"],
            )
            return [entry], snap.dirs

        return self._commit_loop(
            "overwrite", build, max_retries, schema_json=df.schema.json()
        )

    def last_txn(self, app: str) -> int | None:
        """Highest transaction id committed under `app`, or None.
        Scans the log newest-first (driver-side JSON only; a real
        deployment would fold this into the checkpoint)."""
        for v in reversed(self._versions()):
            t = self._read_commit(v).get("txn")
            if t and t.get("app") == app:
                return t["id"]
        return None

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        bump_col: str | None = None,
        max_retries: int = 10,
        txn: tuple[str, int] | None = None,
        evolve_schema: bool = False,
    ) -> int | None:
        """Transactional update-else-insert (D5, reference db.py:166-201):
        rows matching `updates` on `key_cols` are replaced, the rest
        inserted — atomically, under snapshot isolation, concurrent-
        writer-safe.

        Scale shape: the first key's min/max prunes the rewrite to
        overlapping data directories only (data skipping), so a merge
        into a key-clustered table rewrites O(updates) directories.
        Key-disjoint concurrent writers conflict only on the version
        counter and REBASE without re-reading or re-writing anything;
        overlapping writers re-run against the fresh snapshot, so
        serializability falls out of the log order: the last committer
        wins.

        `txn=(app, id)`: exactly-once marker — if the log already
        holds a commit by `app` with a transaction id >= `id`, the
        merge is a no-op returning None (the Delta idempotent-writes
        pattern; restarted streaming micro-batches skip instead of
        re-merging).  Ids must be monotone per app, which Spark's
        micro-batch ids are; the check-then-commit window assumes one
        live writer per app — exactly a streaming query's checkpoint
        contract.

        `evolve_schema=True` (the Delta ``mergeSchema`` analog):
        columns present only in `updates` are ADDED to the table —
        untouched directories stay on disk as-is and read back with
        the new columns null-filled via the snapshot's recorded
        schema; the evolved schema rides this commit's `schema`
        field, so time travel to earlier versions keeps the old
        shape.  Default False: a wider update frame is a hard
        AnalysisException, never a silent column drop."""
        if txn is not None:
            applied = self.last_txn(txn[0])
            if applied is not None and applied >= txn[1]:
                return None
        k0 = key_cols[0]
        updates = updates.dropDuplicates(key_cols)
        if bump_col is not None:
            updates = updates.withColumn(bump_col, F.current_timestamp())
        # materialize the update set ONCE; retries re-read only the target
        upd_entry = self._write_data(updates, k0)
        if upd_entry["rows"] == 0:
            # an empty update set (idle streaming micro-batch) must not
            # degenerate into a stats-less full-table rewrite
            self._drop_data(upd_entry["dir"])
            return None
        upd_df = self._read_dirs([upd_entry["dir"]], None)
        u = upd_entry.get("stats")

        def overlaps(entry: dict) -> bool:
            s = entry.get("stats")
            if u is None or (s is not None and s.get("col") != k0):
                return True  # no comparable stats -> cannot prune
            return _overlaps(s, u["min"], u["max"])

        state: dict = {}
        checked: set[str] = set()

        def build(snap: Snapshot):
            # violating update rows abort before any rewrite (the
            # staging directory is dropped on the way out)
            self._check_new_rows(checked, snap.constraints, lambda: upd_df)
            touched = [d for d in snap.dirs if overlaps(snap.files[d])]
            state["touched"] = set(touched)
            if snap.schema_json is not None:
                base = _struct(snap.schema_json)
                base_names = {f.name for f in base.fields}
                upd_names = {f.name for f in upd_df.schema.fields}
                missing = [f.name for f in base.fields if f.name not in upd_names]
                if missing:
                    # this merge REPLACES whole rows: an update frame
                    # lacking existing columns would silently null them
                    # (with or without evolution)
                    raise ValueError(
                        "merge updates frame is missing existing table "
                        f"columns {missing}"
                    )
                if not evolve_schema and upd_names - base_names:
                    # checked HERE (not left to unionByName) so a
                    # key-range that happens to touch no directory
                    # cannot smuggle a wider frame into the table
                    raise ValueError(
                        "updates frame has columns the table lacks "
                        f"{sorted(upd_names - base_names)}; pass "
                        "evolve_schema=True to add them"
                    )
                if evolve_schema:
                    state["schema_json"] = self._evolved_schema(
                        snap.schema_json, upd_df
                    )
            if touched:
                tgt = self._read_dirs(touched, snap.schema_json)
                kept = tgt.join(
                    upd_df.select(*key_cols).distinct(), on=key_cols, how="left_anti"
                )
                out = kept.unionByName(
                    upd_df, allowMissingColumns=evolve_schema
                )
            else:
                out = upd_df
            # on a new table `touched` is empty and the commit's schema
            # falls back to the update frame's: the first commit defines it
            return [self._write_data(out, k0)], touched

        def rebase_safe(ours, winner) -> bool:
            """The winning commit is invisible to this rewrite iff it
            neither removed anything we read/removed nor added data in
            our key range (their keys can then not collide with ours)."""
            if set(winner.get("remove", [])) & state["touched"]:
                return False
            return not any(overlaps(a) for a in winner.get("add", []))

        try:
            return self._commit_loop(
                "merge", build, max_retries, rebase_safe=rebase_safe,
                on_stale=self._drop_written, schema_json=updates.schema.json(),
                txn=txn, schema_from=lambda: state.get("schema_json"),
            )
        finally:
            self._drop_data(upd_entry["dir"])  # staging only, never referenced

    def delete_where(
        self,
        predicate,
        max_retries: int = 10,
        prune_hint: tuple | None = None,
    ) -> int:
        """Transactional DELETE (S9/S10 row-delete shape): rewrite the
        live directories that may hold matching rows, without those
        rows (the reference's delete flows are tiny demo tables,
        db.py:92-99; this is the Delta file-skipping DELETE shape).

        ``prune_hint=(col, lo, hi)``: the caller asserts every
        predicate-TRUE row satisfies lo <= col <= hi — the contract a
        full engine derives automatically from predicate analysis over
        file stats, exposed here as the honest explicit surface.
        Directories whose recorded ``col`` stats are disjoint from
        [lo, hi] are left UNTOUCHED (their add entries survive
        verbatim; no data job reads them), so a key-confined delete on
        a clustered table rewrites O(matching directories), not
        O(table).  Directories without comparable stats are
        conservatively rewritten.  A truthful hint never changes the
        result; a false one leaves matching rows alive — the same
        failure mode as a wrong predicate.  Without a hint the
        table-wide rewrite is unchanged.  A delete reads table state,
        so a lost race never rebases: it drops its rewrite and
        rebuilds."""

        def overlaps(entry: dict) -> bool:
            if prune_hint is None:
                return True
            col, lo, hi = prune_hint
            # a z-ordered directory carries per-dimension ranges: the
            # hint may prune on ANY clustered column, not just the first
            s = (entry.get("stats_multi") or {}).get(col)
            if s is None:
                s = entry.get("stats")
                if s is not None and s.get("col") != col:
                    return True  # no stats on the hint column: unskipped
            return _overlaps(s, lo, hi)

        def build(snap: Snapshot):
            if snap.version < 0:
                raise ValueError("delete_where on an empty table")
            touched = [d for d in snap.dirs if overlaps(snap.files[d])]
            if not touched:
                return [], []  # provably nothing to delete: no-op commit
            tgt = self._read_dirs(touched, snap.schema_json)
            # SQL/Delta DELETE removes only predicate-TRUE rows; a bare
            # ~predicate would also delete rows where the predicate is
            # NULL (e.g. col('status')=='expired' on a NULL status)
            out = tgt.filter(~F.coalesce(predicate, F.lit(False)))
            # keep the survivors stats-bearing (the old form wrote the
            # rewrite stats-less, silently disarming every LATER pruned
            # merge/delete over it): prefer the hint column, else the
            # column the touched entries already carry
            stats_col = prune_hint[0] if prune_hint else next(
                (
                    snap.files[d]["stats"]["col"]
                    for d in touched
                    if "stats" in snap.files[d]
                ),
                None,
            )
            entry = self._write_data(out, stats_col)
            return [entry], touched

        return self._commit_loop(
            "delete", build, max_retries, on_stale=self._drop_written
        )

    def optimize(
        self,
        cluster_col: str,
        target_dirs: int | None = None,
        max_retries: int = 5,
    ) -> int:
        """Compact the live table into `target_dirs` range-clustered
        directories with DISJOINT `cluster_col` stats — the OPTIMIZE /
        re-clustering pass that restores data skipping after merges
        and appends have blurred the key ranges (every key-confined
        MERGE afterwards rewrites O(1) directories again).  One
        repartitionByRange write job regardless of target count.  At
        100 TB this is the periodic background compaction; between
        runs correctness never depends on it — pruning just degrades
        toward rewrite-everything."""
        return self._compact(
            "optimize", [cluster_col],
            lambda df, k: linear_assign(df, cluster_col, k),
            target_dirs, max_retries,
        )

    def optimize_zorder(
        self,
        cols: list[str],
        target_dirs: int | None = None,
        max_retries: int = 5,
    ) -> int:
        """Delta ``OPTIMIZE ... ZORDER BY (c1, c2, …)`` analog: compact
        the live table into Morton-curve-clustered directories whose
        add entries carry per-dimension min/max (``stats_multi``), so
        pruned MERGE (first column) and pruned DELETE (ANY z-order
        column via ``prune_hint``) both skip directories afterwards.
        The 1-D :meth:`optimize` gives perfect skipping on one column
        and none on the rest; the z-order form trades a little
        per-column selectivity for skipping on every clustered
        dimension — the multi-tenant forget shape: cluster on
        (tenant, time) and both "forget tenant X" and "expire before
        T" deletes stay O(overlapping directories)."""
        return self._compact(
            "optimize_zorder", cols,
            lambda df, k: zorder_assign(df, cols, k),
            target_dirs, max_retries,
        )

    def _compact(self, name: str, cols: list[str], assign,
                 target_dirs: int | None, max_retries: int) -> int:
        """Both OPTIMIZE forms: rewrite the whole live table as the `k`
        files `assign(df, k)` tags.  Compaction reads the whole table,
        so a lost race never rebases: it drops its layout and rebuilds."""

        def build(snap: Snapshot):
            if snap.version < 0:
                raise ValueError(f"{name} on an empty table")
            df = self._read_dirs(snap.dirs, snap.schema_json)
            if "__file" in df.columns:
                raise ValueError(f"column name __file is reserved by {name}()")
            k = target_dirs or max(1, min(len(snap.dirs), 32))
            return self._write_files(assign(df, k), cols), snap.dirs

        return self._commit_loop(
            "optimize", build, max_retries, on_stale=self._drop_written
        )

    def add_constraint(
        self, name: str, check_sql: str, max_retries: int = 10
    ) -> int:
        """Delta ``ALTER TABLE … ADD CONSTRAINT name CHECK (expr)``
        analog.  The EXISTING table is validated first (one scan — a
        constraint that current data already violates is rejected, not
        recorded), then the full constraint set rides a metadata-only
        commit; every later append/merge/overwrite validates its
        incoming rows against the snapshot's set BEFORE publishing, so
        readers never see a violating row.  CHECK semantics: a row
        violates only when the expression is FALSE — NULL passes
        (spell NOT NULL as ``col IS NOT NULL``).  ``restore()``
        restores data, not constraints (table metadata follows the
        log's last set/drop, the Delta property behavior)."""

        def new_set(snap: Snapshot) -> dict[str, str]:
            if snap.version < 0:
                raise ValueError("add_constraint on an empty table")
            if name in snap.constraints:
                raise ValueError(f"constraint {name!r} already exists")
            self._check_constraints(
                self._read_dirs(snap.dirs, snap.schema_json),
                {name: check_sql},
            )
            return {**snap.constraints, name: check_sql}

        return self._set_constraints(new_set, max_retries)

    def drop_constraint(self, name: str, max_retries: int = 10) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""

        def new_set(snap: Snapshot) -> dict[str, str]:
            if name not in snap.constraints:
                raise ValueError(f"constraint {name!r} does not exist")
            return {k: v for k, v in snap.constraints.items() if k != name}

        return self._set_constraints(new_set, max_retries)

    def _set_constraints(self, new_set, max_retries: int) -> int:
        """Metadata-only commit of the full CHECK set `new_set(snap)`,
        recomputed on every lost race so concurrent changes compose."""
        state: dict = {}

        def build(snap: Snapshot):
            state["set"] = new_set(snap)
            return [], []

        return self._commit_loop(
            "set_constraint", build, max_retries,
            extra=lambda: {"constraints": state["set"]},
        )

    # -- maintenance -------------------------------------------------

    def restore(self, version: int, max_retries: int = 10) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION`` analog: publish a
        commit that returns the LIVE state to ``version``'s file set —
        METADATA-ONLY (data directories are immutable and still on
        disk: they are log-referenced, so vacuum kept them for as long
        as the log retains the version).  The restore is itself a new
        commit, so it is undoable by another restore and visible in
        ``history()`` — nothing is rewritten, nothing is lost.

        Fails loudly when ``version`` is below a ``truncate_history``
        cutoff (its snapshot is no longer resolvable — and after a
        vacuum its data may be physically gone, which is exactly what
        the forget path promises)."""
        target = self.snapshot(version)  # raises if truncated/unknown
        if target.version < 0:
            raise ValueError("cannot restore an empty table state")

        def build(snap: Snapshot):
            # a restore replaces the whole live set: never rebased
            return list(target.files.values()), snap.dirs

        return self._commit_loop(
            "restore", build, max_retries,
            schema_from=lambda: target.schema_json,
        )

    def truncate_history(self, retain_versions: int = 1) -> list[int]:
        """Irreversibly drop time travel older than the newest
        ``retain_versions`` commits, so a following ``vacuum()`` can
        physically reclaim every byte only the dropped versions
        reference.  This is the right-to-be-forgotten completion of
        ``delete_where``: a row DELETE removes rows from the LIVE
        snapshot, but each older version still references the data
        directories holding them, and vacuum honors that — forgotten
        content physically persists until history is truncated.  (The
        Delta analog is checkpoint + ``logRetentionDuration`` metadata
        cleanup; same contract: time travel below the cutoff fails
        loudly afterwards, and ``last_txn`` markers older than the
        cutoff are forgotten, so streaming writers must keep
        ``retain_versions`` ≥ their replay window.)

        Reader-safe ordering: a full checkpoint AT the oldest
        surviving version is published (atomic link) BEFORE any log
        entry is unlinked, and entries are unlinked oldest-first — so
        the oldest version any racing reader can anchor on is always
        either 0 or checkpoint-covered.  A reader that already
        resolved a dropped version keeps working until vacuum removes
        its files (the same read-vs-vacuum window Delta documents).

        Returns the dropped version numbers (empty = nothing to drop).
        """
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        versions = self._versions()
        if not versions:
            return []
        cutoff = versions[-1] - retain_versions + 1
        if cutoff <= versions[0]:
            return []
        # publish the covering checkpoint AT the oldest survivor first:
        # replay of any surviving version starts there, and — unlike a
        # checkpoint at cutoff-1 — it references only post-cutoff state,
        # so vacuum is free to reclaim what the dropped versions held
        # (for the forget flow, cutoff = the delete commit itself)
        self._checkpoint(self.snapshot(cutoff))
        log = self._log_path()
        dropped: list[int] = []
        for v in versions:
            if v >= cutoff:
                break
            try:
                os.unlink(os.path.join(log, _fmt_version(v)))
                dropped.append(v)
            except FileNotFoundError:
                pass  # concurrent truncate already dropped it
        # checkpoints strictly below the covering one reference only
        # dropped history — remove them so vacuum can reclaim
        for cv in self._checkpoint_versions():
            if cv < cutoff:
                try:
                    os.unlink(os.path.join(log, _fmt_checkpoint(cv)))
                except FileNotFoundError:
                    pass
        return dropped

    def vacuum(self, retain_seconds: float = 3600.0) -> list[str]:
        """Delete data directories no commit references, older than
        `retain_seconds` (mtime).  The age guard is what keeps an
        in-flight writer's just-written-not-yet-committed directory
        safe — the same retention contract as Delta's VACUUM.  Note
        referenced = ANY commit still in the log or any surviving
        checkpoint, so time travel keeps working for every listed
        version; dropping old versions is the separate, explicit
        :meth:`truncate_history` step.

        A checkpoint that exists but cannot be parsed raises before
        anything is deleted: after ``truncate_history`` it may be the
        only reference to live data."""
        # an optimize commit references per-file SUBdirs of one
        # physical root — protect the whole root directory
        referenced = {
            _data_root(a["dir"]) for c in self.history() for a in c.get("add", [])
        }
        # after truncate_history() a directory may be referenced ONLY by
        # the covering checkpoint (its adding commit is gone) — protect
        # everything any surviving checkpoint still maps
        for cv in self._checkpoint_versions():
            try:
                cp = self._read_checkpoint(cv)
            except FileNotFoundError:
                continue  # a concurrent truncate_history removed it
            referenced.update(_data_root(d) for d in cp["files"])
        dropped = []
        data_root = os.path.join(self.path, DATA_DIR)
        now = time.time()
        for d in os.listdir(data_root):
            rel = f"{DATA_DIR}/{d}"
            full = os.path.join(data_root, d)
            if rel in referenced:
                continue
            if now - os.path.getmtime(full) < retain_seconds:
                continue
            shutil.rmtree(full, ignore_errors=True)
            dropped.append(rel)
        # reclaim orphaned log temp files (a writer that died mid-publish)
        for f in os.listdir(self._log_path()):
            full = os.path.join(self._log_path(), f)
            if f.startswith(".tmp-") and now - os.path.getmtime(full) >= retain_seconds:
                try:
                    os.unlink(full)
                except OSError:
                    pass
        return dropped


def streaming_merge_sink(table: TxnTable, key_cols: list[str],
                         bump_col: str | None = None,
                         app: str | None = None,
                         evolve_schema: bool = False):
    """foreachBatch body running each micro-batch as one ACID MERGE —
    the streaming upsert sink for idempotent inserts (S4) and latest
    state views (D4/D5).  With `app` set, the (app, batch_id)
    pair rides the commit log as a transaction marker, so a restarted
    micro-batch SKIPS instead of re-merging — exactly-once into the
    table, not just idempotent-by-values.  Concurrent writers
    serialize through the commit log."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        table.merge(
            batch, key_cols, bump_col=bump_col,
            txn=(app, batch_id) if app is not None else None,
            evolve_schema=evolve_schema,
        )

    return sink
