"""``dashboard``: a closed loop of client threads sharing one session,
sending the reference app's dashboard GETs — built from the package's
operator functions — over a generated price store.  Each response is
collected to the driver, as an API would return it.

Small queries whose cost is mostly fixed per query (planning, job and
task scheduling, parquet open): plan reuse, caching or fewer tasks per
query show up here.  Dedup, similarity, the transaction log and
streaming are never touched."""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
import time

from perfbench import gen
from perfbench.harness import (
    SMALL_WARM_S, WARM_S, StageCounters, add_counts, cpu_seconds, nproc, spark_layer_counts,
)
from perfbench.stats import percentile, summarize, tail_entry

CLIENTS = 2  # fixed, capped at the host's cores
SAMPLES_PER_KIND = 3
N_REQUESTS = 5_000  # the loop wraps around; a run sends a few hundred
SMA_N = 20


def prepare(seed: int, tmp: str, small: bool = False) -> dict:
    n_events = gen.N_EVENTS_SMALL if small else gen.N_EVENTS
    return {"paths": gen.make_store(seed, os.path.join(tmp, "store"), n_events),
            "requests": gen.requests(seed, N_REQUESTS),
            "warm_s": SMALL_WARM_S if small else WARM_S}


def first_query(spark, inputs) -> None:
    from market_insights_app_spark.sources.tables import load_table

    load_table(spark, os.path.dirname(inputs["paths"]["events"]), "events").count()


# --------------------------------------------------------------------------
# the requests
# --------------------------------------------------------------------------


def _ts_literal(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )


def build(kind: str, p: dict, tables: dict):
    """The request's response frames, from the package's operators."""
    from pyspark.sql import functions as F

    from market_insights_app_spark.functions.scalars import ts_us
    from market_insights_app_spark.operators import windows as W
    from market_insights_app_spark.operators.filters import events_ts_range, journal_filter
    from market_insights_app_spark.operators.ict import analyze_ict
    from market_insights_app_spark.operators.journal import journal_stats, with_trade_scalars
    from market_insights_app_spark.operators.pagination import keyset_page, page
    from market_insights_app_spark.operators.positions import compute_positions

    ev = tables.get("events")
    if kind == "prices_page":
        f = events_ts_range(ev.filter(F.col("user_id") == p["symbol"]), p["start"], p["end"])
        out = page(f, [F.col("ts").desc(), F.col("event_id").desc()],
                   limit=p["limit"], offset=p["page"] * p["limit"])
        return [out.select("event_id", ts_us("ts").alias("ts_us"), "event_type", "value")]
    if kind == "keyset_page":
        out = keyset_page(ev.filter(F.col("user_id") == p["symbol"]), "ts", "event_id",
                          limit=p["limit"], after_ts=_ts_literal(p["after_us"]),
                          after_id=p["after_id"])
        return [out.select("event_id", ts_us("ts").alias("ts_us"), "value")]
    if kind == "latest_quote":
        out = W.latest_per_key(ev.filter(F.col("user_id").isin(p["watchlist"])),
                               ["user_id"], "ts", "event_id")
        return [out.select("user_id", "event_id", ts_us("ts").alias("ts_us"), "value")]
    if kind == "positions":
        prices = ev.select(F.col("user_id").alias("symbol"), F.col("ts").alias("as_of"),
                           F.col("event_id").alias("id"), F.col("value").alias("price"))
        out = compute_positions(tables["transactions"], prices, portfolio_id=p["portfolio_id"])
        return [out.select("symbol", "qty", "cost", "fees", "buys", "avg_cost", "last",
                           "market_value")]
    if kind == "journal_stats":
        f = journal_filter(tables["journal"], symbol=p["symbol"], direction=p["direction"],
                           date_from=p["start"], date_to=p["end"])
        return [journal_stats(with_trade_scalars(f))]
    if kind == "symbol_chart":
        scoped = events_ts_range(ev.filter(F.col("user_id") == p["symbol"]), p["start"], p["end"])
        w = W.series_window(["user_id"], "ts", "event_id")
        series = scoped.select(
            "event_id", ts_us("ts").alias("ts_us"), "value",
            W.sma("value", w, SMA_N).alias("sma"), W.rsi("value", w, 14).alias("rsi"),
        )
        ict = analyze_ict(scoped, ["user_id"], "ts", "event_id").select(
            "user_id", "hi", "lo", F.round("mid", 6).alias("mid"), "last", "pd", "bias",
            F.col("equal_highs").cast("int").alias("equal_highs"),
            F.col("equal_lows").cast("int").alias("equal_lows"),
            F.round("ote_lo", 6).alias("ote_lo"), F.round("ote_hi", 6).alias("ote_hi"),
        )
        return [series, ict]
    raise ValueError(f"unknown request kind {kind!r}")


TABLES_FOR = {
    "positions": ("events", "transactions"),
    "journal_stats": ("journal",),
}


def load(spark, paths: dict, kind: str) -> dict:
    from market_insights_app_spark.sources.tables import load_table

    out = {}
    for name in TABLES_FOR.get(kind, ("events",)):
        if name == "events":
            out[name] = load_table(spark, os.path.dirname(paths["events"]), "events")
        else:
            out[name] = spark.read.parquet(paths[name])
    return out


def execute(spark, paths, kind, p, rid, tracer, counters):
    """One request end to end; returns one list of row tuples per frame."""
    with tracer.span("bench", kind, rid):
        if counters is not None:
            spark.sparkContext.setJobGroup(rid, kind)
        with tracer.span("sources", "load"):
            tables = load(spark, paths, kind)
        with tracer.span("operators", "build"):
            frames = build(kind, p, tables)
        out = []
        for df in frames:
            if tracer.enabled:
                with tracer.span("plans", "optimize"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("plans", "exec"):
                out.append([tuple(r) for r in df.collect()])
    return out


# --------------------------------------------------------------------------
# the oracle: the same responses as DuckDB SQL over the same parquet
# --------------------------------------------------------------------------


def oracle_sql(kind: str, p: dict) -> tuple[str | None, list[str]]:
    """(events view filter, SQL per response frame)."""
    from market_insights_app_spark.plans.core_oracles import CORE_ORACLES

    rng = f"ts >= TIMESTAMP '{p.get('start')}' AND ts <= TIMESTAMP '{p.get('end')}'"
    if kind == "prices_page":
        return None, [
            f"""SELECT event_id, epoch_us(ts), event_type, value FROM events
                WHERE user_id = {p['symbol']} AND {rng}
                ORDER BY ts DESC, event_id DESC
                LIMIT {p['limit']} OFFSET {p['page'] * p['limit']}"""
        ]
    if kind == "keyset_page":
        t = _ts_literal(p["after_us"])
        return None, [
            f"""SELECT event_id, epoch_us(ts), value FROM events
                WHERE user_id = {p['symbol']}
                  AND (ts < TIMESTAMP '{t}'
                       OR (ts = TIMESTAMP '{t}' AND event_id < {p['after_id']}))
                ORDER BY ts DESC, event_id DESC LIMIT {p['limit']}"""
        ]
    if kind == "latest_quote":
        ids = ", ".join(str(s) for s in p["watchlist"])
        return None, [
            f"""SELECT user_id, event_id, epoch_us(ts), value FROM (
                  SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events WHERE user_id IN ({ids})) WHERE rn = 1"""
        ]
    if kind == "positions":
        return None, [
            f"""WITH agg AS (
                  SELECT symbol,
                    SUM(CASE WHEN upper(type) = 'BUY' THEN qty
                             WHEN upper(type) = 'SELL' THEN -qty ELSE 0.0 END) AS qty,
                    SUM(CASE WHEN upper(type) = 'BUY' THEN qty * price ELSE 0.0 END) AS cost,
                    SUM(CASE WHEN upper(type) IN ('BUY', 'SELL') THEN fees ELSE 0.0 END) AS fees,
                    SUM(CASE WHEN upper(type) = 'BUY' THEN qty ELSE 0.0 END) AS buys
                  FROM transactions WHERE portfolio_id = {p['portfolio_id']}
                  GROUP BY symbol),
                lp AS (
                  SELECT user_id AS symbol, value AS last FROM (
                    SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
                  WHERE rn = 1)
                SELECT agg.symbol, qty, cost, fees, buys,
                       coalesce(cost / nullif(buys, 0.0), 0.0), last, last * qty
                FROM agg LEFT JOIN lp ON agg.symbol = lp.symbol"""
        ]
    if kind == "journal_stats":
        direction = f"AND direction = '{p['direction']}'" if p["direction"] else ""
        return None, [
            f"""WITH t AS (
                  SELECT *, (CASE WHEN direction = 'Long'
                                  THEN coalesce(exit, 0) - coalesce(entry, 0)
                                  ELSE coalesce(entry, 0) - coalesce(exit, 0) END)
                            * coalesce(qty, 0) - coalesce(fees, 0) AS pnl
                  FROM journal
                  WHERE upper(symbol) = '{p['symbol'].upper()}' {direction}
                    AND date >= TIMESTAMP '{p['start']}' AND date <= TIMESTAMP '{p['end']}'),
                r AS (
                  SELECT *, coalesce(pnl / nullif(abs(coalesce(entry, 0) - coalesce(stop, 0))
                                                  * abs(coalesce(qty, 0)), 0), 0) AS r
                  FROM t)
                SELECT count(*), sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END),
                       round(100.0 * sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) / count(*), 0),
                       round(sum(pnl), 2), round(avg(r), 4)
                FROM r"""
        ]
    if kind == "symbol_chart":
        view = f"user_id = {p['symbol']} AND {rng}"
        w = "PARTITION BY user_id ORDER BY ts, event_id"
        series = f"""
            SELECT s.*, r.rsi14 FROM (
              SELECT event_id, epoch_us(ts) AS ts_us, value,
                     CASE WHEN row_number() OVER w >= {SMA_N} THEN
                       avg(value) OVER (w ROWS BETWEEN {SMA_N - 1} PRECEDING AND CURRENT ROW)
                     END AS sma
              FROM events WINDOW w AS ({w})) s
            JOIN ({CORE_ORACLES['rsi14']}) r USING (event_id)"""
        return view, [series, CORE_ORACLES["ict_analysis"]]
    raise ValueError(kind)


def _close(a, b, abs_tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=abs_tol)
    return a == b


def _sort_key(row):
    return tuple(
        (1, round(float(c), 3)) if isinstance(c, float)
        else (0, 0) if c is None else (2, str(c))
        for c in row
    )


def rows_match(got: list[tuple], want: list[tuple], abs_tol: float) -> bool:
    """Order-insensitive equality, floats within a tolerance."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w) or not all(_close(a, b, abs_tol) for a, b in zip(g, w)):
            return False
    return True


def check(paths: dict, samples: list[tuple[str, dict, list]]) -> list[str]:
    """Compare each sampled response with DuckDB; returns the failures."""
    import duckdb

    con = duckdb.connect()
    for name in ("transactions", "journal"):
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{paths[name]}')")
    bad = []
    for kind, p, got in samples:
        view, sqls = oracle_sql(kind, p)
        where = f"WHERE {view}" if view else ""
        con.sql(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                f"read_parquet('{paths['events']}') {where}")
        tol = 0.0101 if kind == "journal_stats" else 1e-6
        for frame_rows, sql in zip(got, sqls):
            want = [tuple(r) for r in con.sql(sql).fetchall()]
            if not rows_match(frame_rows, want, tol):
                bad.append(f"{kind} {p}")
                break
    con.close()
    return bad


# --------------------------------------------------------------------------
# the closed loop
# --------------------------------------------------------------------------


class _Loop:
    def __init__(self, spark, inputs, tracer, counters):
        self.spark, self.paths = spark, inputs["paths"]
        self.reqs = inputs["requests"]
        self.tracer, self.counters = tracer, counters
        self.lock = threading.Lock()
        self.next = 0
        self.samples: dict[str, list] = {}
        self.errors: list[str] = []

    def take(self) -> int:
        with self.lock:
            i = self.next
            self.next += 1
            return i

    def phase(self, seconds: float, clients: int) -> dict:
        lat: list[tuple[str, float, str]] = []
        deadline = time.perf_counter() + seconds
        t0 = time.perf_counter()

        def client():
            while time.perf_counter() < deadline:
                i = self.take()
                kind, p = self.reqs[i % len(self.reqs)]
                rid = f"req-{i}"
                s = time.perf_counter()
                try:
                    rows = execute(self.spark, self.paths, kind, p, rid,
                                   self.tracer, self.counters)
                except Exception as e:  # noqa: BLE001 - a failed request is a result
                    with self.lock:
                        self.errors.append(f"{kind}: {e!r}"[:300])
                    continue
                took = time.perf_counter() - s
                with self.lock:
                    lat.append((kind, took, rid))
                    got = self.samples.setdefault(kind, [])
                    if len(got) < SAMPLES_PER_KIND:
                        got.append((kind, p, rows))

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return {"lat": lat, "wall": time.perf_counter() - t0}


def _kind_p50(lat) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for kind, s, _ in lat:
        by.setdefault(kind, []).append(s * 1e3)
    return {k: percentile(by[k], 50) if k in by else 0.0 for k in gen.REQUEST_MIX}


def measure(spark, inputs, seconds: float, tracer, meter, run_dir: str) -> dict:
    """Run the closed loop untimed for ``warm_s`` (the JVM compiles the
    hot paths meanwhile), then timed for ``seconds``.  With the tracer
    on, every timed request also gets a job group and its spans."""
    traced = tracer.enabled
    clients = min(CLIENTS, nproc())
    loop = _Loop(spark, inputs, tracer, None)
    warm = loop.phase(inputs["warm_s"], clients)
    tracer.spans.clear()
    loop.samples.clear()
    counters = loop.counters = StageCounters(spark) if traced else None
    cpu0, jit0 = cpu_seconds(), meter.jit_seconds()
    run = loop.phase(seconds, clients)
    jit_s = meter.jit_seconds() - jit0
    cpu_s = cpu_seconds() - cpu0 - jit_s

    lat_ms = [s * 1e3 for _, s, _ in run["lat"]]
    done = len(lat_ms)
    summary = summarize(lat_ms)
    samples = [s for kind in gen.REQUEST_MIX for s in loop.samples.get(kind, [])]
    bad = check(inputs["paths"], samples)
    rate = done / run["wall"]
    res = {
        "attempted": len(warm["lat"]) + done + len(loop.errors),
        "failed": len(loop.errors) + len(bad),
        "e2e": {"p50_ms": summary["p50"], "cpu_ms_per_op": cpu_s * 1e3 / max(1, done)},
        "report": {
            "clients": clients,
            "requests": done,
            "dash_p50_ms": summary["p50"],
            **tail_entry("dash", summary),
            "dash_req_per_s": rate,
            "dash_jit_ms_per_req": jit_s * 1e3 / max(1, done),
            **{f"dash_{k}_p50_ms": v for k, v in _kind_p50(run["lat"]).items()},
            "checked_responses": len(samples),
            "check_failures": bad[:5],
            "errors": loop.errors[:5],
        },
    }
    if traced:
        totals: dict = {}
        counters.flush()
        for _, _, rid in run["lat"]:
            add_counts(totals, counters.group(rid))
        n = max(1, done)
        actions = max(1, len(tracer.durations_ms("exec")))
        res["layers"] = {
            **spark_layer_counts(totals, n, run["wall"]),
            "sources.load_ms": sum(tracer.durations_ms("load")) / n,
            "operators.build_ms": sum(tracer.durations_ms("build")) / n,
            **{f"operators.{k}_p50_ms": v for k, v in _kind_p50(run["lat"]).items()},
            "plans.optimize_ms": sum(tracer.durations_ms("optimize")) / actions,
            "plans.exec_ms": sum(tracer.durations_ms("exec")) / actions,
        }
    return res
