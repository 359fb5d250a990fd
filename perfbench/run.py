"""The repository's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

``--trace 0`` measures with tracing off and reports the end-to-end
metrics named in ``BENCHMARK.json``; ``--trace 1`` first repeats that
untraced measurement, then measures again with spans and Spark job-group
counters on, and reports the per-layer metrics plus the tracing overhead
(traced minus untraced).  ``--workload all`` runs every workload, one
child process each, and prints their metrics side by side.

Every run prints a human-readable report (every metric the workload
defines, by name and unit, plus host and session facts) and, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  Generated inputs, tables, checkpoints and Spark's scratch
space live in a temporary directory under the checkout, removed at exit.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # the checkout stays byte-identical

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("dashboard", "corpus_build", "quote_ingest")
# cold starts per run, setup_s is their median; one cold start takes
# 12-25 s on a shared 4-core host, so a run affords one
SETUP_REPS = 1


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def workload_module(name: str):
    from perfbench import corpus, dashboard, ingest

    return {"dashboard": dashboard, "corpus_build": corpus, "quote_ingest": ingest}[name]


def measure_workload(name: str, seed: int, seconds: float, traced: bool,
                     small: bool, spans_path: str | None) -> dict:
    """Set up, measure and tear down one workload; returns the report."""
    from perfbench import harness

    wl = workload_module(name)
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    clock = [("start", time.perf_counter())]
    try:
        harness.hermetic_env(tmp, traced)
        inputs = wl.prepare(seed, os.path.join(tmp, "inputs"), small)
        clock.append(("prepare", time.perf_counter()))
        probe = harness.HostProbe()
        with harness.TreeSampler() as meter:
            starts, setups = [], []
            for i in range(SETUP_REPS):
                spark, start_s, setup_s = harness.start_session(
                    lambda s: wl.first_query(s, inputs))
                starts.append(start_s)
                setups.append(setup_s)
                if i < SETUP_REPS - 1:
                    harness.stop_session(spark)
            clock.append(("setup", time.perf_counter()))
            try:
                facts = harness.session_facts(spark)
                untraced = wl.measure(spark, inputs, seconds, harness.Tracer(), meter,
                                      os.path.join(tmp, "untraced"))
                traced_res = None
                if traced:
                    tracer = harness.Tracer(enabled=True)
                    traced_res = wl.measure(spark, inputs, seconds, tracer, meter,
                                            os.path.join(tmp, "traced"))
                    traced_res["layers"].update(
                        {f"{k}.self_ms": v for k, v in tracer.self_ms().items()})
                    traced_res["layers"]["session.start_s"] = statistics.median(starts)
                    base = untraced["e2e"]["p50_ms"]
                    traced_res["layers"]["trace.overhead_pct"] = (
                        100.0 * (traced_res["e2e"]["p50_ms"] - base) / base)
                    if spans_path:
                        with open(spans_path, "w") as fh:
                            json.dump(tracer.dump(), fh)
            finally:
                clock.append(("measure", time.perf_counter()))
                harness.stop_session(spark)
        host = probe.finish()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    clock.append(("teardown", time.perf_counter()))

    runs = [untraced] + ([traced_res] if traced_res else [])
    failed = sum(r["failed"] for r in runs)
    attempted = sum(r["attempted"] for r in runs) + SETUP_REPS
    e2e = {
        **untraced["e2e"],
        "setup_s": statistics.median(setups),
        "peak_rss_mb": meter.peak_bytes / 1e6,
    }
    return {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "report": {**untraced["report"], "error_rate": failed / attempted, **e2e},
        "layers": traced_res["layers"] if traced_res else None,
        "facts": {**facts, **host, "setup_s_runs": setups,
                  "phase_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(clock, clock[1:])}},
    }


def result_line(spec: dict, rep: dict, traced: bool) -> dict:
    """The run's last line: the end-to-end or the per-layer metrics of
    ``BENCHMARK.json``.  Per-layer metrics a workload does not exercise
    read 0."""
    if traced:
        values = {m["name"]: rep["layers"].get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {m["name"]: rep["e2e"].get(m["name"], 0.0) for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    return {
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


def print_report(rep: dict) -> None:
    from perfbench.stats import unit_of

    print(f"== {rep['workload']}  seed={rep['seed']}  seconds={rep['seconds']}")
    print("host/session: " + json.dumps(rep["facts"], sort_keys=True))
    for k, v in rep["report"].items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            print(f"  {k:<34} {v:>14.4f} {unit_of(k)}")
        else:
            print(f"  {k:<34} {json.dumps(v)}")
    if rep["layers"]:
        print("  -- per layer (traced run)")
        for k in sorted(rep["layers"]):
            print(f"  {k:<34} {rep['layers'][k]:>14.4f} {unit_of(k)}")


def run_all(args) -> int:
    """Every workload in its own child process; a combined last line."""
    out, rc = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--small"] if args.small else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            rc = proc.returncode or 1
            continue
        out[name] = json.loads(lines[-1])
    if rc:
        return rc
    print(json.dumps({
        "correct": all(r["correct"] for r in out.values()),
        "attempted": sum(r["attempted"] for r in out.values()),
        "failed": sum(r["failed"] for r in out.values()),
        "metrics": {f"{w}.{k}": v for w, r in out.items() for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs, for the smoke test")
    ap.add_argument("--spans", help="traced run: write every span to this JSON file")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "market_insights_app_spark")):
        print("perfbench: the market_insights_app_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    spec = load_spec()
    rep = measure_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                           args.small, args.spans)
    print_report(rep)
    print(json.dumps(result_line(spec, rep, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
