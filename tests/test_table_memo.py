"""sources.tables.load_table memoizes table resolution per live session:
a repeat call with unchanged files returns the same DataFrame and starts
no Spark job, while a rewritten file, a new part file, a new session or
the cache knob never serve stale rows."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from market_insights_app_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path, keys, **extra):
    cols = {"r_regionkey": pa.array(keys, pa.int64()), **extra}
    pq.write_table(pa.table(cols), path)


def _keys(df):
    return sorted(r[0] for r in df.collect())


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it started).  A marker job
    in a second group follows fn; the listener bus is ordered, so once
    the marker is visible every job fn started is counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    marker = group + "-marker"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_repeat_load_returns_same_frame_without_jobs(spark, tmp_path):
    _write(tmp_path / "region.parquet", [1, 2])
    first, cold = _jobs(spark, "memo-cold", lambda: load_table(spark, str(tmp_path), "region"))
    again, warm = _jobs(spark, "memo-warm", lambda: load_table(spark, str(tmp_path), "region"))
    assert cold >= 1  # the schema-inference job the memo saves
    assert again is first
    assert warm == 0
    assert _keys(again) == [1, 2]


def test_rewritten_file_returns_new_rows(spark, tmp_path):
    _write(tmp_path / "region.parquet", [1, 2])
    assert _keys(load_table(spark, str(tmp_path), "region")) == [1, 2]
    # a stale frame may still read the new rows through its old file
    # listing, but its schema stays the first file's
    _write(tmp_path / "region.parquet", [3, 4, 5], r_name=pa.array(["a", "b", "c"]))
    fresh = load_table(spark, str(tmp_path), "region")
    assert fresh.columns == ["r_regionkey", "r_name"]
    assert _keys(fresh) == [3, 4, 5]


def test_new_part_file_in_directory_table_returns_new_rows(spark, tmp_path):
    table = tmp_path / "region.parquet"
    table.mkdir()
    _write(table / "part-0.parquet", [1, 2])
    assert _keys(load_table(spark, str(tmp_path), "region")) == [1, 2]
    _write(table / "part-1.parquet", [7])
    assert _keys(load_table(spark, str(tmp_path), "region")) == [1, 2, 7]


def test_other_session_gets_its_own_frame(spark, tmp_path):
    _write(tmp_path / "region.parquet", [1, 2])
    first = load_table(spark, str(tmp_path), "region")
    other = spark.newSession()
    mine = load_table(other, str(tmp_path), "region")
    assert mine is not first
    assert mine.sparkSession is other
    assert _keys(mine) == [1, 2]


def test_stopped_session_never_reuses_old_frame(tmp_path):
    """Stopping the suite's shared session would break every later
    test, so the stop/restart cycle runs in a child process."""
    _write(tmp_path / "region.parquet", [1, 2])
    script = f"""
from market_insights_app_spark.session import get_spark
from market_insights_app_spark.sources.tables import load_table
old = get_spark(app_name="memo-stop", cpus=1)
first = load_table(old, {str(tmp_path)!r}, "region")
old.stop()
try:
    load_table(old, {str(tmp_path)!r}, "region")
    raise SystemExit("a stopped session got its old frame back")
except Exception:
    pass
new = get_spark(app_name="memo-stop", cpus=1)
again = load_table(new, {str(tmp_path)!r}, "region")
assert again is not first
assert again.sparkSession is new
assert sorted(r[0] for r in again.collect()) == [1, 2]
new.stop()
print("OK")
"""
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=300)
    assert out.stdout.strip().endswith("OK"), out.stderr[-3000:]


def test_missing_table_raises_as_a_plain_read_does(spark, tmp_path):
    with pytest.raises(Exception) as plain:
        spark.read.parquet(str(tmp_path / "region.parquet"))
    for _ in range(2):  # a miss is never memoized
        with pytest.raises(type(plain.value)) as memo:
            load_table(spark, str(tmp_path), "region")
        assert memo.value.getCondition() == plain.value.getCondition()


def test_cache_knob_rereads_rewritten_file(spark, tmp_path, monkeypatch):
    """Regression: the knob's old cache was keyed on the path alone and
    kept serving the first file's rows after a rewrite."""
    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "1")
    _write(tmp_path / "region.parquet", [1, 2])
    first = load_table(spark, str(tmp_path), "region")
    assert first.is_cached
    assert _keys(first) == [1, 2]
    _write(tmp_path / "region.parquet", [3, 4, 5])
    fresh = load_table(spark, str(tmp_path), "region")
    assert fresh is not first
    assert _keys(fresh) == [3, 4, 5]
    fresh.unpersist()


def test_concurrent_first_loads_all_see_complete_frames(spark, tmp_path):
    _write(tmp_path / "region.parquet", [1, 2, 3])
    got, errors = [], []

    def client():
        try:
            got.append(load_table(spark, str(tmp_path), "region"))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert all(_keys(df) == [1, 2, 3] for df in got)
    assert load_table(spark, str(tmp_path), "region") in got


def test_range_join_sessions_self_join_matches_duckdb(spark, duck):
    """Both sides of range_join_sessions now come from one memoized
    events frame, so they share attribute ids: the join must still
    match its DuckDB twin row for row."""
    from market_insights_app_spark.plans.registry import ORACLES, QUERIES
    from tests.test_oracle_parity import canon

    assert load_table(spark, SF_ORACLE, "events") is load_table(spark, SF_ORACLE, "events")
    sdf = QUERIES["range_join_sessions"](spark, SF_ORACLE)
    d = duck.sql(ORACLES["range_join_sessions"])
    want, cols = d.fetchall(), [c[0] for c in d.description]
    got = [tuple(r) for r in sdf.collect()]
    assert len(got) == len(want) > 0
    assert canon(got, sdf.columns) == canon(want, cols)
