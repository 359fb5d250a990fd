"""The benchmark's own tests: seeded inputs, the percentile rule, the
metric names in BENCHMARK.json, and a smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.stats import percentile, summarize, tail_percentile

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


# --------------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------------


def test_same_seed_same_warc_bytes(tmp_path):
    a = gen.make_warcs(7, str(tmp_path / "a"), n_files=2, pages_per_file=20)
    b = gen.make_warcs(7, str(tmp_path / "b"), n_files=2, pages_per_file=20)
    c = gen.make_warcs(8, str(tmp_path / "c"), n_files=2, pages_per_file=20)
    assert a["planted"] == b["planted"]
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))


def test_same_seed_same_quote_files(tmp_path):
    def drop(seed, sub):
        tables, expected = gen.quote_files(seed, 4, rows=50)
        (tmp_path / sub).mkdir()
        for f, t in enumerate(tables):
            gen.drop_quote_file(t, str(tmp_path), str(tmp_path / sub), f)
        return _tree_bytes(str(tmp_path / sub)), expected

    a, ea = drop(3, "a")
    b, eb = drop(3, "b")
    c, _ = drop(4, "c")
    assert a == b and ea == eb
    assert a != c


def test_quote_files_mix_updates_and_new_keys():
    tables, expected = gen.quote_files(5, 6, rows=100, new_share=0.4)
    seen: set[str] = set()
    for i, t in enumerate(tables):
        syms = t.column("symbol").to_pylist()
        assert len(set(syms)) == len(syms)  # unique keys within a file
        if i:
            assert len(set(syms) & seen) == 60  # 60 % updates of known keys
        seen |= set(syms)
    assert set(expected) == seen


def test_same_seed_same_store_and_requests(tmp_path):
    a = gen.make_store(2, str(tmp_path / "a"), n_events=2_000)
    b = gen.make_store(2, str(tmp_path / "b"), n_events=2_000)
    c = gen.make_store(9, str(tmp_path / "c"), n_events=2_000)
    assert set(a) == {"events", "transactions", "journal"}
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))
    assert gen.requests(2, 300) == gen.requests(2, 300)
    assert gen.requests(2, 300) != gen.requests(9, 300)


def test_request_blocks_keep_the_mix():
    reqs = gen.requests(1, 200)
    block = sum(gen.REQUEST_MIX.values())
    for start in range(0, 200, block):
        kinds = [k for k, _ in reqs[start : start + block]]
        assert {k: kinds.count(k) for k in gen.REQUEST_MIX} == gen.REQUEST_MIX


# --------------------------------------------------------------------------
# the percentile rule
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    assert tail_percentile(n) == want


def test_summarize_reports_median_and_allowed_tail():
    xs = [float(i) for i in range(1, 101)]
    s = summarize(xs)
    assert s["n"] == 100 and s["p50"] == pytest.approx(50.5)
    assert s["tail_pct"] == 90.0 and s["tail"] == pytest.approx(percentile(xs, 90))
    assert "tail" not in summarize(xs[:15])


# --------------------------------------------------------------------------
# BENCHMARK.json
# --------------------------------------------------------------------------


def test_benchmark_names_and_units():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        names += [m["name"] for m in spec[group]]
        for m in spec[group]:
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert 2 <= len(spec["workloads"]) <= 8


# --------------------------------------------------------------------------
# smoke runs: tiny inputs, short windows, every named metric emitted
# --------------------------------------------------------------------------


def _run(workload: str, trace: int, seconds: int) -> tuple[list[str], dict]:
    before = sorted(os.listdir(ROOT))
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "1",
         "--seconds", str(seconds), "--trace", str(trace), "--small"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:]
    assert sorted(os.listdir(ROOT)) == before  # the scratch directory is gone
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload, trace", [("dashboard", 1), ("quote_ingest", 1)])
def test_smoke_run_emits_every_metric(workload, trace):
    spec = _spec()
    lines, last = _run(workload, trace, 6)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert set(last["metrics"]) == {m["name"] for m in spec["per_layer"]}
    assert last["metrics"]["session.start_s"]["value"] > 0
    report = "\n".join(lines[:-1])
    for name in ("setup_s", "peak_rss_mb", "error_rate"):
        assert f"  {name} " in report
    if workload == "dashboard":
        for name in ("dash_p50_ms", "dash_req_per_s", "plans.optimize_ms", "operators.build_ms"):
            assert f"  {name} " in report
    else:
        for name in ("ingest_fresh_p50_ms", "ingest_read_p50_ms", "space_amp",
                     "storage.merge_p50_ms", "streaming.trigger_ms"):
            assert f"  {name} " in report


def test_smoke_run_untraced_and_corpus():
    spec = _spec()
    _, last = _run("dashboard", 0, 3)
    assert set(last["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(v["value"] > 0 for v in last["metrics"].values())
    lines, last = _run("corpus_build", 1, 1)
    assert last["correct"]
    report = "\n".join(lines)
    for name in ("corpus_s", "pipelines.crawl_s", "pipelines.rows.corpus",
                 "sources.warc_parses_per_file", "trace.overhead_pct"):
        assert f"  {name} " in report


def test_without_the_package_exits_nonzero_and_prints_no_result(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
