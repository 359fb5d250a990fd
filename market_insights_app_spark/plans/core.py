"""Core relational query registry — the oracle-checked restatement of
SURVEY.md §2's scan/filter/join/agg/window/sort/dedup inventory over
the driver testdata (FIXTURES.md §B role bindings: events ≈ prices,
user_id ≈ symbol, value ≈ price, ts ≈ as_of, event_id ≈ id).

Every function here has the driver signature ``(spark, sf_dir) ->
DataFrame`` and a DuckDB oracle twin in ``ORACLE_SQL`` with IDENTICAL
column names and rounding. Conventions that make cross-engine value
hashing stable:

- timestamps leave as epoch microseconds (``ts_us``; DuckDB
  ``epoch_us``) — no tz/format ambiguity;
- per-row double math rounds to 6 dp; big-sum aggregates go through
  DECIMAL(18,x) so summation is exact and order-free in both engines,
  then cast back to double;
- every LIMIT sits on a total order with an id tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from market_insights_app_spark.functions.scalars import pnl, r_multiple, ts_us
from market_insights_app_spark.operators import windows as W
from market_insights_app_spark.operators.joins import asof_join, latest_join, union_merge
from market_insights_app_spark.operators.journal import histogram
from market_insights_app_spark.operators.pagination import page, top_k_per_group
from market_insights_app_spark.operators.windows import latest_per_key
from market_insights_app_spark.sources.tables import load_table

EVENTS_W = lambda: Window.partitionBy("user_id").orderBy("ts", "event_id")  # noqa: E731

START, END = "2024-01-05", "2024-01-20"


def _events(spark, sf):
    return load_table(spark, sf, "events")


# ---------------------------------------------------------------------------
# §2.2 filters + §2.6 pagination
# ---------------------------------------------------------------------------


def q_prices_filter_range_limit(spark: SparkSession, sf: str) -> DataFrame:
    """P1+T1 (db.py:271-302): conjunctive filter + desc sort with id
    tiebreaker + limit. Filters/projection push into the parquet scan."""
    from market_insights_app_spark.operators.filters import events_ts_range

    ev = _events(spark, sf)
    filtered = events_ts_range(
        ev.filter(F.col("event_type") == "click"), START, END
    )
    out = page(filtered, [F.col("ts").desc(), F.col("event_id").desc()], limit=100)
    return out.select(
        "event_id", ts_us("ts").alias("ts_us"), "user_id", "event_type", F.round("value", 6).alias("value")
    )


def q_prices_page2(spark: SparkSession, sf: str) -> DataFrame:
    """T1 page 2: OFFSET 100 LIMIT 100 on the same total order."""
    ev = _events(spark, sf)
    filtered = ev.filter(F.col("event_type") == "click")
    out = page(filtered, [F.col("ts").desc(), F.col("event_id").desc()], limit=100, offset=100)
    return out.select("event_id", ts_us("ts").alias("ts_us"), F.round("value", 6).alias("value"))


def q_prices_keyset_page(spark: SparkSession, sf: str) -> DataFrame:
    """T1 at depth, 100 TB-safe: keyset (seek) pagination — WHERE
    (ts, id) < cursor ORDER BY ts DESC, id DESC LIMIT n. The cursor
    predicate pushes into the parquet scan at any page depth, unlike
    OFFSET which reads and discards offset+limit rows."""
    import datetime as dt

    from market_insights_app_spark.operators.filters import events_ts_range
    from market_insights_app_spark.operators.pagination import keyset_page

    ev = _events(spark, sf).filter(F.col("event_type") == "click")
    # coarse scan-space bound: (ts, id) < cursor implies ts <= cursor_ts,
    # which reaches PushedFilters
    ev = events_ts_range(ev, None, "2024-01-15")
    out = keyset_page(
        ev,
        "ts",
        "event_id",
        limit=100,
        after_ts=dt.datetime(2024, 1, 15, 0, 0, 0),
        after_id=500_000,
    )
    return out.select(
        "event_id", ts_us("ts").alias("ts_us"), F.round("value", 6).alias("value")
    )


# q_recent_n_tail retired r13 (sanctioned consolidation, r12 verdict
# #1): T5's orderBy(desc(id)).limit(n) is a strict subset of
# ★prices_filter_range_limit's gated sort+limit machinery (same
# TakeOrderedAndProject physical shape, same tiebreaker discipline),
# so the stronger row hash-gates everything the weaker one did.  The
# recent_n operator keeps its own golden value test
# (tests/test_domain_operators.py) and TakeOrderedAndProject plan pin
# (tests/test_plan_quality.py).  Funded the txn_merge registration
# (N <= 148 = 3W - 2).


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------


def q_latest_per_key(spark: SparkSession, sf: str) -> DataFrame:
    """W13 (db.py:391-396): newest row per key with id tiebreaker."""
    out = latest_per_key(_events(spark, sf), ["user_id"], "ts", "event_id")
    return out.select("user_id", "event_id", ts_us("ts").alias("ts_us"), "event_type",
                      F.round("value", 6).alias("value"))


def q_lag_delta(spark: SparkSession, sf: str) -> DataFrame:
    """W12 (main.js:559-565): per-key delta vs previous observation."""
    ev = _events(spark, sf)
    delta = W.lag_delta("value", EVENTS_W())
    return ev.select("event_id", F.round(delta, 6).alias("delta"))


# q_sma5 retired r12 (sanctioned consolidation): the W1 computation —
# the DECIMAL rolling sum, warm-up CASE and /5 — is the INNER stage of
# ★ma_slope_trend's oracle (W6/W7 are lagged differences OVER the W1
# sma5), so the stronger row hash-gates every stage of the weaker one.
# The W1 operator golden tests stay in tests/test_windows.py; bench.py
# HEADLINE swapped sma5 → ma_slope_trend to keep the r01 series
# comparable.  Funded the host_authority registration (N ≤ 148).


def q_rolling_min_volatility(spark: SparkSession, sf: str) -> DataFrame:
    """W3-over-W2 (main.js:233, 249-251): trailing min of the rolling
    stddev — staged window-over-window (§7.4.3).  The standalone W2 row
    (rolling_stddev10) was retired in r11: its full computation is the
    inner stage of this oracle, so this row hash-gates every stage of
    the weaker one; the W2 operator golden tests stay in tests/."""
    ev = _events(spark, sf)
    staged = ev.select(
        "user_id", "ts", "event_id", W.rolling_stddev("value", EVENTS_W(), 10).alias("sd10")
    )
    out = staged.select(
        "event_id", F.round(W.rolling_min("sd10", EVENTS_W(), 5), 4).alias("min_vol")
    )
    return out


def q_ma_slope_trend(spark: SparkSession, sf: str) -> DataFrame:
    """W6+W7 (main.js:242-245): SMA slopes at lags 2 and 5 → trend.
    DECIMAL rolling sum (exact) → double division, as in q_sma5."""
    ev = _events(spark, sf)
    w = EVENTS_W()
    sum5 = F.sum(F.col("value").cast("decimal(18,2)")).over(W.trailing(w, 5)).cast("double")
    staged = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.row_number().over(w) >= 5, sum5 / 5).alias("sma5"),
    )
    s2 = W.slope("sma5", EVENTS_W(), 2)
    s5 = W.slope("sma5", EVENTS_W(), 5)
    return staged.select(
        "event_id",
        F.round(s2, 6).alias("slope2"),
        F.round(s5, 6).alias("slope5"),
        W.trend_label(s2, s5).alias("trend"),
    )


def q_local_extrema(spark: SparkSession, sf: str) -> DataFrame:
    """W5 (main.js:322-335): lag/lead local highs/lows; endpoints null."""
    ev = _events(spark, sf)
    out = W.local_extrema_flags(ev, "value", EVENTS_W())
    return out.select(
        "event_id",
        F.col("is_local_high").cast("int").alias("is_high"),
        F.col("is_local_low").cast("int").alias("is_low"),
    )


def q_equity_cumsum(spark: SparkSession, sf: str) -> DataFrame:
    """W11 (main.js:990-1000): running per-key cumulative sum."""
    ev = _events(spark, sf)
    cum = (
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(W.running(EVENTS_W()))
        .cast("double")
    )
    return ev.select("event_id", F.round(cum, 4).alias("equity"))


def q_minmax_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """W14 (Sparkline.tsx:6-10): per-key min-max scaling."""
    ev = _events(spark, sf)
    return ev.select(
        "event_id", F.round(W.minmax_normalize("value", EVENTS_W()), 6).alias("norm")
    )


def q_window_delta_stats(spark: SparkSession, sf: str) -> DataFrame:
    """A7 (main.js:64-67): per-key first→last delta and pct, via
    order-insensitive min_by/max_by on the (ts, id) tuple."""
    ev = _events(spark, sf)
    key = F.struct("ts", "event_id")
    agg = ev.groupBy("user_id").agg(
        F.min_by("value", key).alias("first_v"), F.max_by("value", key).alias("last_v")
    )
    return agg.select(
        "user_id",
        F.round(F.col("last_v") - F.col("first_v"), 6).alias("diff"),
        F.round((F.col("last_v") - F.col("first_v")) / F.col("first_v") * 100, 6).alias("pct"),
    )


def q_minmax_mid_premium(spark: SparkSession, sf: str) -> DataFrame:
    """A4+W9 (main.js:343-346): per-key hi/lo/mid + premium-discount of
    the newest value."""
    ev = _events(spark, sf)
    key = F.struct("ts", "event_id")
    agg = ev.groupBy("user_id").agg(
        F.max("value").alias("hi"),
        F.min("value").alias("lo"),
        F.max_by("value", key).alias("last_v"),
    )
    mid = (F.col("hi") + F.col("lo")) / 2
    return agg.select(
        "user_id",
        F.round("hi", 6).alias("hi"),
        F.round("lo", 6).alias("lo"),
        F.round(mid, 6).alias("mid"),
        F.when(F.col("last_v") >= mid, F.lit("premium")).otherwise(F.lit("discount")).alias("pd"),
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


def q_positions_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A1 (db.py:399-425) on events: purchase≡BUY, click≡SELL,
    value≡qty, value/10≡price, fees 0.5/row. Same conditional-sum shape
    as operators.positions.aggregate_positions, with per-row DECIMAL
    casts so the sums are exact and order-free for the oracle; the
    BUY/SELL branches mirror the case-insensitive ``typ.upper()``
    contract (db.py:409,414)."""
    ev = _events(spark, sf)
    et = F.col("event_type")
    v = F.col("value")
    qty_term = (
        F.when(et == "purchase", v).when(et == "click", -v).otherwise(F.lit(0.0))
    ).cast("decimal(18,2)")
    cost_term = (
        F.when(et == "purchase", v * (v / 10)).otherwise(F.lit(0.0))
    ).cast("decimal(28,8)")
    fees_term = (
        F.when(et.isin("purchase", "click"), F.lit(0.5)).otherwise(F.lit(0.0))
    ).cast("decimal(18,2)")
    buys_term = (F.when(et == "purchase", v).otherwise(F.lit(0.0))).cast("decimal(18,2)")
    agg = ev.groupBy("user_id").agg(
        F.sum(qty_term).cast("double").alias("qty"),
        F.sum(cost_term).cast("double").alias("cost"),
        F.sum(fees_term).cast("double").alias("fees"),
        F.sum(buys_term).cast("double").alias("buys"),
    )
    # qty/cost/fees/buys are exact decimal sums cast to double — emit
    # unrounded (bit-identical across engines); rounding could land on a
    # true half-way point and diverge.
    return agg.select(
        "user_id",
        "qty",
        "cost",
        "fees",
        "buys",
        F.round(
            F.coalesce(F.col("cost") / F.nullif(F.col("buys"), F.lit(0.0)), F.lit(0.0)), 6
        ).alias("avg_cost"),
    )


def q_tpch_q1_style(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-shaped conditional aggregation over lineitem — the A1
    semantics at the scale table. DECIMAL sums for exact, order-free
    cross-engine equality."""
    li = load_table(spark, sf, "lineitem")
    d = lambda c: F.col(c).cast("decimal(12,2)")  # noqa: E731
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(12,2)")
    taxp = (F.lit(1.0) + F.col("l_tax")).cast("decimal(12,2)")
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(d("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(d("l_extendedprice") * disc * taxp).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6))
    )
    return out


def q_journal_stats(spark: SparkSession, sf: str) -> DataFrame:
    """A2 (main.js:939-947) with events.value-50 standing in for pnl:
    trades / wins / winrate% / total / avg-r."""
    ev = _events(spark, sf)
    p = F.col("value") - 50.0
    pd = p.cast("decimal(18,6)")
    return ev.agg(
        F.count(F.lit(1)).alias("trades"),
        F.sum((p > 0).cast("long")).alias("wins"),
        F.round(100.0 * F.sum((p > 0).cast("long")) / F.count(F.lit(1)), 0).alias("winrate"),
        F.sum(pd).cast("double").alias("total_pnl"),
        F.round(F.sum(pd).cast("double") / F.count(F.lit(1)) / 50.0, 6).alias("avg_r"),
    )


def q_value_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group exact quantiles (p50/p90/p99 of value per event_type):
    linear-interpolation percentile, matching DuckDB quantile_cont to
    6 dp. Exact percentile sorts within groups — at 100 TB switch the
    call site to approx_percentile (t-digest sketch, map-side mergeable,
    one shuffle of sketches not rows); it lives behind the same column
    API."""
    ev = _events(spark, sf)
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


def q_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """A5 (main.js:1006-1011): 10 equal-width bins over
    lineitem.l_extendedprice with clamp."""
    li = load_table(spark, sf, "lineitem")
    return histogram(li, "l_extendedprice", bins=10)


def q_pnl_r_scalars(spark: SparkSession, sf: str) -> DataFrame:
    """F7/F8 (main.js:901-916): trade PnL and R-multiple over a
    deterministic journal-shaped projection of events."""
    ev = _events(spark, sf)
    j = ev.select(
        "event_id",
        F.when(F.col("event_id") % 2 == 0, F.lit("Long")).otherwise(F.lit("Short")).alias("direction"),
        F.col("value").alias("entry"),
        (F.col("value") * 1.1).alias("exit"),
        (F.col("value") * 0.95).alias("stop"),
        ((F.col("event_id") % 5) + 1).cast("double").alias("qty"),
        F.lit(1.0).alias("fees"),
    )
    j = j.withColumn("pnl", pnl("direction", "entry", "exit", "qty", "fees"))
    j = j.withColumn("r", r_multiple("pnl", "entry", "stop", "qty"))
    return j.select("event_id", F.round("pnl", 6).alias("pnl"), F.round("r", 6).alias("r"))


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


def q_latest_join_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """J1 (db.py:399-425): enrich customers with their newest event
    value (user_id ≈ c_custkey); LEFT join keeps null last/market_value
    for customers with no events (db.py:422-423). Latest side is
    broadcast."""
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_acctbal")
    ev = _events(spark, sf).select(
        F.col("user_id").alias("c_custkey"), "ts", "event_id", F.col("value").alias("last")
    )
    out = latest_join(cust, ev, "c_custkey", "ts", "event_id", ["last"])
    return out.select(
        "c_custkey",
        F.round("last", 6).alias("last"),
        F.round(F.col("last") * F.col("c_acctbal"), 4).alias("market_value"),
    )


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of backward join (J1 generalized, SURVEY §2.3): for each
    purchase event, the newest prior-or-equal 'view' value of the same
    user — union-merge formulation, no range cross-product."""
    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value")
    )
    out = asof_join(purchases, views, "user_id", "ts", "ts", ["view_value"])
    return out.select("event_id", F.round("view_value", 6).alias("view_value"))


def q_multi_join_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """J2 generalized to the TPC-H Q5-ish chain: revenue per region via
    region⋈nation⋈customer⋈orders⋈lineitem. Dimension sides broadcast;
    DECIMAL revenue sum for exactness."""
    region = F.broadcast(load_table(spark, sf, "region"))
    nation = F.broadcast(load_table(spark, sf, "nation"))
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1.0) - F.col("l_discount")).cast("decimal(12,2)"))
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )
    return out


def q_union_merge_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """J3+D6 (main.js:853-867): server-wins signature-keyed merge of two
    overlapping slices."""
    ev = _events(spark, sf).select("event_id", "user_id", "ts", "event_type", "value")
    server = ev.filter(F.col("event_id") % 3 != 0)
    local = ev.filter(F.col("user_id") < 8)
    merged = union_merge(server, local, ["user_id", "ts", "event_type"])
    return merged.select(
        "event_id", "user_id", ts_us("ts").alias("ts_us"), "event_type",
        F.round("value", 6).alias("value"),
    )


def q_group_topk(spark: SparkSession, sf: str) -> DataFrame:
    """T6 generalized: top-3 by value per event_type with id tiebreak."""
    ev = _events(spark, sf)
    out = top_k_per_group(
        ev, ["event_type"], [F.col("value").desc(), F.col("event_id").asc()], 3
    )
    return out.select("event_type", "event_id", F.round("value", 6).alias("value"))


# ---------------------------------------------------------------------------
# §2.7 dedup / upsert readback
# ---------------------------------------------------------------------------


def q_dedup_latest_wins(spark: SparkSession, sf: str) -> DataFrame:
    """D4/D5 readback (db.py:166-201): latest-version-wins per
    composite key — the plain-parquet MERGE view."""
    out = latest_per_key(_events(spark, sf), ["user_id", "event_type"], "ts", "event_id")
    return out.select(
        "user_id", "event_type", "event_id", ts_us("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
    )


# ---------------------------------------------------------------------------
# semi-structured + time windows (§2.8 F12/F19, §2.9 ST5 batch parity)
# ---------------------------------------------------------------------------


def q_json_extract_props(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured props JSON → typed column → bucketed agg
    (reference's dict-.get JSON edge, alpha_vantage.py:29-47)."""
    ev = _events(spark, sf)
    k = F.get_json_object("props", "$.k").cast("int")
    out = (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
    )
    return out


def q_tumbling_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """ST5 batch parity: 15-minute tumbling windows per event_type."""
    ev = _events(spark, sf)
    out = (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(ts_us(F.col("w.start")).alias("window_start_us"), "event_type", "n", "sum_value")
    )
    return out


def q_sliding_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """ST5: 30-minute windows sliding every 15 minutes."""
    ev = _events(spark, sf)
    out = (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(ts_us(F.col("w.start")).alias("window_start_us"), "event_type", "n")
    )
    return out


def q_session_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """ST5: session windows (30-minute gap) per user — batch form of
    the streaming sessionization."""
    ev = _events(spark, sf)
    out = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
        .select(ts_us(F.col("w.start")).alias("session_start_us"), "user_id", "n", "sum_value")
    )
    return out


def q_ema_stateful_replay(spark: SparkSession, sf: str) -> DataFrame:
    """ST1/ST4 driver evidence for the CUSTOM STATEFUL operator: runs
    the real applyInPandasWithState EMA (streaming/ingest.ema_stateful,
    alpha=0.2) over the events parquet replayed as an availableNow file
    stream into a memory sink, then returns the final per-key state.
    The DuckDB twin replays the identical fold as a list_reduce over
    the (ts, event_id)-ordered series — first value seeds, then
    ema = 0.2·x + 0.8·ema, the exact arithmetic the operator applies —
    so the streaming runtime itself is hash-gated, not a batch
    re-implementation of it.  (Per-user event times are tie-free in
    the testdata, so the fold order is total.)"""
    import uuid

    from market_insights_app_spark.streaming.ingest import (
        ema_stateful,
        events_file_stream,
        run_available_now_to_memory,
    )

    # unique sink name: the driver may invoke this more than once per
    # session and memory-sink tables are session-global
    name = f"ema_replay_{uuid.uuid4().hex[:8]}"
    stream = events_file_stream(spark, sf, max_files_per_trigger=10_000)
    run_available_now_to_memory(
        ema_stateful(stream), name, "append", shuffle_partitions=8
    )
    out = spark.table(name)
    # one emission per key per micro-batch → keep the final state row
    w = Window.partitionBy("key").orderBy(F.col("n_seen").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("key").alias("user_id"), "ema", "n_seen")
    )


def q_session_stateful_replay(spark: SparkSession, sf: str) -> DataFrame:
    """ST5 driver evidence for the SECOND custom stateful operator:
    the applyInPandasWithState session builder (streaming/ingest.
    session_builder_stateful, 30-minute gap, NoTimeout) replayed over
    the events parquet as an availableNow stream.  Emitted rows are
    exactly the sessions CLOSED BY A LATER EVENT — each key's final
    session stays open in state, so the DuckDB twin sessionizes and
    drops every key's last session.  sum_value is the operator's
    sequential event-time Python fold; the twin replays it with
    list_reduce in the same order, so the doubles match bit-for-bit."""
    import uuid

    from market_insights_app_spark.streaming.ingest import (
        events_file_stream,
        run_available_now_to_memory,
        session_builder_stateful,
    )

    name = f"sess_replay_{uuid.uuid4().hex[:8]}"
    stream = events_file_stream(spark, sf, max_files_per_trigger=10_000)
    run_available_now_to_memory(
        session_builder_stateful(stream), name, "append", shuffle_partitions=8
    )
    return spark.table(name).select(
        F.col("key").alias("user_id"),
        "session_start_us",
        "session_end_us",
        "n",
        F.round("sum_value", 6).alias("sum_value"),
        "closed_by",
    )


def q_ohlc_stream_replay(spark: SparkSession, sf: str) -> DataFrame:
    """ST5/market driver evidence for the STREAMING OHLC aggregate:
    runs streaming/ingest.ohlc_agg (windowed min_by/max_by candles —
    the incremental form of operators/market.ohlc_bars) over the
    events parquet replayed as an availableNow file stream, complete
    output mode so every window's final candle lands in the memory
    sink.  The DuckDB twin computes the same daily candles with
    row_number over the (ts, event_id) total order — identical values
    because min_by/max_by over that struct pick the same open/close
    ticks — so the streaming runtime itself is hash-gated (the
    ema/session replay pattern)."""
    import uuid

    from market_insights_app_spark.streaming.ingest import (
        events_file_stream,
        ohlc_agg,
        run_available_now_to_memory,
    )

    name = f"ohlc_replay_{uuid.uuid4().hex[:8]}"
    stream = events_file_stream(spark, sf, max_files_per_trigger=10_000)
    run_available_now_to_memory(
        ohlc_agg(stream), name, "complete", shuffle_partitions=8
    )
    out = spark.table(name)
    return out.select(
        "user_id",
        ts_us("bucket_ts").alias("bucket_us"),
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "n_ticks",
    )


def q_ict_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """U1 (main.js:336-383): the full analyzeICT composite — hi/lo/mid,
    premium-discount, MA-slope bias, equal-highs/lows, OTE retracement
    zone — one row per user_id, composed from W1-W10."""
    from market_insights_app_spark.operators.ict import analyze_ict

    ev = _events(spark, sf)
    out = analyze_ict(ev, ["user_id"], "ts", "event_id")
    return out.select(
        "user_id",
        "hi",
        "lo",
        F.round("mid", 6).alias("mid"),
        "last",
        "pd",
        "bias",
        F.col("equal_highs").cast("int").alias("equal_highs"),
        F.col("equal_lows").cast("int").alias("equal_lows"),
        F.round("ote_lo", 6).alias("ote_lo"),
        F.round("ote_hi", 6).alias("ote_hi"),
    )


def q_rollup_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Spark-native completeness beyond the reference (SURVEY §2.4
    note): ROLLUP over the region→nation hierarchy with exact DECIMAL
    revenue; grouping_id distinguishes subtotal levels."""
    nation = F.broadcast(load_table(spark, sf, "nation"))
    region = F.broadcast(load_table(spark, sf, "region"))
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    rev = F.col("o_totalprice").cast("decimal(12,2)")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    out = (
        joined.rollup("r_name", "n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
    )
    return out


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT ALL surface (SURVEY §2.7 note — no reference
    counterpart, Spark-native completeness): high-value event ids that
    are clicks but not purchases, plus intersection counts."""
    ev = _events(spark, sf)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    only_click_users = clicks.distinct().exceptAll(buys.distinct())
    both = clicks.distinct().intersect(buys.distinct())
    return (
        only_click_users.withColumn("set_kind", F.lit("click_only"))
        .unionByName(both.withColumn("set_kind", F.lit("both")))
    )


def q_trailing_max_argmax(spark: SparkSession, sf: str) -> DataFrame:
    """W4 (main.js:234-235): trailing-20 highest value + argmax id.
    For the oracle, (value, id) is packed into one sortable integer
    (values are 2-dp) so the argmax tiebreak is engine-independent;
    the Spark-native API form is operators.windows.arg_extreme
    (max_by over a struct), used by the ICT composite."""
    ev = _events(spark, sf)
    w = EVENTS_W()
    key = F.round(F.col("value") * 100, 0).cast("long") * 10000000 + F.col("event_id")
    staged = ev.select(
        "event_id", F.max(key).over(W.trailing(w, 20)).alias("mx")
    )
    return staged.select(
        "event_id",
        F.pmod(F.col("mx"), F.lit(10000000)).alias("argmax_id"),
        F.round(F.expr("mx div 10000000") / 100.0, 6).alias("rolling_max"),
    )


def q_range_join_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Range (interval-containment) join: every event matched to the
    session interval that contains it — the bucketized range_join
    operator on the Spark side vs DuckDB's naive non-equi join. Proves
    the no-cross-product formulation returns exactly the theta-join
    result."""
    from market_insights_app_spark.operators.joins import range_join

    ev = _events(spark, sf).select("event_id", "user_id", "ts")
    sessions = (
        _events(spark, sf)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
        )
    )
    joined = range_join(ev, sessions, "user_id", "ts", "s_start", "s_end", bucket_seconds=900)
    return joined.select("event_id", ts_us("s_start").alias("session_start_us"))


def q_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """First-touch ordered funnel over the event stream (Spark-native
    behavioral-analytics surface; generalizes the reference's
    client-side stat recomputation, static/main.js:935-988). One
    map-side-combinable groupBy(user) + a global roll-up — no
    self-joins, the shape that survives a 100 TB event log."""
    from market_insights_app_spark.operators.funnel import funnel_first_touch

    return funnel_first_touch(
        _events(spark, sf), ["signup", "view", "click", "purchase"]
    )


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = period of first event,
    users counted per (cohort, week offset). Two user_id-co-partitioned
    shuffles; see operators/funnel.py."""
    from market_insights_app_spark.operators.funnel import cohort_retention

    return cohort_retention(_events(spark, sf))


def q_cube_agg(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (event_type, iso day-of-week) with exact DECIMAL
    totals — completes the multi-dim aggregate surface next to
    rollup_revenue (SURVEY §2.4 note: no reference counterpart,
    Spark-native completeness)."""
    ev = _events(spark, sf).select(
        "event_type",
        (F.pmod(F.dayofweek("ts") + 5, F.lit(7)) + 1).cast("int").alias("dow"),
        F.col("value").cast("decimal(18,2)").alias("vdec"),
    )
    return ev.cube("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vdec").cast("double").alias("total"),
        F.grouping_id().alias("gid"),
    )


def q_pivot_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT event_type → per-user count columns (wide-form export
    shape). Values are enumerated explicitly so the plan is a single
    groupBy — no extra distinct-values job at scale."""
    ev = _events(spark, sf)
    kinds = ["view", "click", "purchase", "signup", "error"]
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return p.select(
        "user_id", *[F.col(k).alias(f"n_{k}") for k in kinds]
    )


def q_salted_hot_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Two-stage salted aggregation over a deliberately hot key space
    (5 event types × millions of rows): stage 1 aggregates on
    (key, salt) spreading each hot key over 16 tasks, stage 2 merges
    exact partials. Result must equal the plain GROUP BY — the oracle
    is exactly that."""
    from market_insights_app_spark.operators.skew import salted_agg

    ev = _events(spark, sf).withColumn(
        "vdec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {"n": ("*", "count"), "total": ("vdec", "sum"), "vmax": ("value", "max")},
    )
    return out.select(
        "event_type",
        "n",
        F.col("total").cast("double").alias("total"),
        F.round("vmax", 6).alias("vmax"),
    )


def q_click_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Purchase→click attribution: each purchase matched to every
    click by the same user in the preceding 30 minutes. Point-to-point
    interval join expressed through the bucketized range_join (clicks
    become [ts, ts+30m] intervals) — an equi-join on (user, time cell)
    plus the exact range predicate, never a theta cross-product. The
    streaming twin is streaming.ingest.interval_join_stream."""
    from market_insights_app_spark.operators.joins import range_join

    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("cend"),
    )
    j = range_join(purchases, clicks, "user_id", "pts", "cts", "cend", bucket_seconds=900)
    return j.select(
        "purchase_id",
        "click_id",
        (ts_us("pts") - ts_us("cts")).alias("delta_us"),
    )


def q_rsi14(spark: SparkSession, sf: str) -> DataFrame:
    """Cutler RSI(14) per series (operators/windows.py: rsi) — the
    indicator family's momentum member next to SMA/stddev/slope.
    One window partition key throughout, so it pipelines with the
    other per-series indicators without a second exchange."""
    ev = _events(spark, sf)
    return ev.select("event_id", W.rsi("value", EVENTS_W(), 14).alias("rsi14"))


def q_bollinger(spark: SparkSession, sf: str) -> DataFrame:
    """Bollinger(20, 2) bands + %B (operators/windows.py: bollinger).
    Band mid uses the exact DECIMAL rolling sum; stddev-derived
    outputs round at 4 dp (same policy as the W2 rolling stddev)."""
    ev = _events(spark, sf)
    upper, lower, pctb = W.bollinger("value", EVENTS_W(), 20, 2.0)
    return ev.select(
        "event_id",
        F.round(upper, 4).alias("bb_upper"),
        F.round(lower, 4).alias("bb_lower"),
        F.round(pctb, 4).alias("pct_b"),
    )


def q_autocorr_lag1(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1 autocorrelation of each series: Pearson corr of
    (value, lag(value)) per user. All six sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL — exact and
    summation-order-free in both engines — and the correlation is one
    double expression over them, so the result is bit-identical
    cross-engine without rounding. One window pass + one groupBy."""
    ev = _events(spark, sf)
    w = EVENTS_W()
    v = F.col("value").cast("decimal(18,2)")
    pairs = ev.select(
        "user_id",
        v.alias("y"),
        F.lag(v, 1).over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    stats = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    den = F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
    return stats.select(
        "user_id",
        "n_pairs",
        F.when(den > 0, num / den).alias("corr_lag1"),
    )


# ---------------------------------------------------------------------------
# dataset profiling + distribution analytics (round 4)
# ---------------------------------------------------------------------------


def q_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-wide profile of the events table in ONE aggregate pass
    (operators/profiling.py): per-column row/null/distinct counts and
    min/max. Exact count_distinct here (driver-gate determinism); the
    100 TB default is approximate=True (HLL++ sketches keep the whole
    profile inside a single map-side-partial aggregate). ts and value
    are profiled through the typed queries instead — double/timestamp
    → string rendering is engine-specific, and the profile's generic
    min/max contract is string-rendered."""
    from market_insights_app_spark.operators.profiling import profile_table

    ev = _events(spark, sf)
    return profile_table(ev, ["event_id", "user_id", "event_type", "props"])


def q_grouping_sets_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS completeness alongside ROLLUP/CUBE (§2.4 family):
    revenue by (region, nation), by nation alone, and the grand total
    in one pass — exact DECIMAL sums, grouping_id distinguishes the
    levels. Same broadcast-dimension join tree as rollup_revenue."""
    nation = F.broadcast(load_table(spark, sf, "nation"))
    region = F.broadcast(load_table(spark, sf, "region"))
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    rev = F.col("o_totalprice").cast("decimal(12,2)")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    out = (
        joined.groupingSets(
            [["r_name", "n_name"], ["n_name"], []],
            "r_name",
            "n_name",
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
    )
    return out.select("r_name", "n_name", "gid", "revenue", "n_orders")


def q_ewma_macd(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-horizon EWMA(12)/EWMA(26) and the MACD line per series
    (operators/windows.ewma) — truncated adjust=True weights embedded
    as literal doubles in BOTH engines, so the fold is bit-identical
    IEEE arithmetic (no libm pow in either plan)."""
    ev = _events(spark, sf)
    w = EVENTS_W()
    # ONE collect_list window feeds both spans (W.ewma_pair, r13), and
    # the two-level select keeps each O(span) fold evaluated ONCE —
    # inlining e12/e26 into the macd expression re-ran the array fold
    # per referencing column (CollapseProject leaves non-cheap aliases
    # staged, so the inner projection survives).
    e12, e26 = W.ewma_pair("value", w, 12, 26)
    inner = ev.select(
        "user_id",
        "event_id",
        ts_us("ts").alias("ts_us"),
        e12.alias("__e12"),
        e26.alias("__e26"),
    )
    return inner.select(
        "user_id",
        "event_id",
        "ts_us",
        F.round("__e12", 6).alias("ewma12"),
        F.round("__e26", 6).alias("ewma26"),
        F.round(F.col("__e12") - F.col("__e26"), 6).alias("macd"),
    )


# ---------------------------------------------------------------------------
# market analytics extensions (round 5): candles, VWAP, drawdown,
# cross-series correlation, distribution moments (operators/market.py)
# ---------------------------------------------------------------------------


def q_ohlc_resample(spark: SparkSession, sf: str) -> DataFrame:
    """Tick→daily OHLCV candle resample per series (operators/market.
    ohlc_bars) — the server-side form of the reference's client-side
    candlestick panel (main.js chart), with volume parsed out of the
    semi-structured props JSON. Single shuffle: the open/close
    row_numbers and the bar groupBy share the (key, day) partitioning."""
    from market_insights_app_spark.operators.market import ohlc_bars

    ev = _events(spark, sf)
    vol = F.get_json_object("props", "$.k").cast("int")
    bars = ohlc_bars(ev, volume=vol)
    return bars.select(
        "user_id",
        ts_us("bucket_ts").alias("bucket_us"),
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "n_ticks",
        "volume",
    )


def q_vwap_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Daily VWAP per series (operators/market.vwap): Σ(price·vol) and
    Σvol as exact DECIMAL partial aggregates, one double division at
    the end, NULL (not NaN) on zero-volume days."""
    from market_insights_app_spark.operators.market import vwap

    ev = _events(spark, sf)
    vol = F.get_json_object("props", "$.k").cast("int")
    out = vwap(ev, volume=vol)
    return out.select(
        "user_id",
        ts_us("bucket_ts").alias("bucket_us"),
        "vwap",
        "volume",
        "n_ticks",
    )


def q_max_drawdown(spark: SparkSession, sf: str) -> DataFrame:
    """Max peak-to-trough drawdown per series (operators/market.
    max_drawdown) — running DECIMAL peak + one double ratio, reduced
    per key; the risk summary beside the equity curve (main.js:990)."""
    from market_insights_app_spark.operators.market import max_drawdown

    return max_drawdown(_events(spark, sf))


def q_pairwise_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-series correlation matrix.  r11: the registered plan is
    the blocked-BLAS Gram lane (operators/market.pairwise_corr_dense)
    — the shape you would run at a dense key universe — so the driver
    row hash-gates the SCALE lane (the embedding_neardup r10
    precedent).  The hourly exact-DECIMAL bucket sums become integer
    cents; six matrix products over the (key × bucket) cent matrix
    yield the same six exact sufficient statistics as the bucket
    self-join, so the final correlation expression is bit-identical
    to the join lane (pairwise_corr), which stays equality-pinned in
    tests/test_market_analytics.py + the hypothesis sweep and shares
    this row's DuckDB oracle.  Measured at sf0.1 (idle, interleaved):
    join 3.81 s best, dense 1.84 s best."""
    from market_insights_app_spark.operators.market import (
        pairwise_corr_dense,
    )

    return pairwise_corr_dense(_events(spark, sf))


def q_series_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution shape per series (operators/market.moments): mean,
    sample stddev, skewness, excess kurtosis from four exact DECIMAL
    power sums — no engine-specific skewness()/kurtosis() ambiguity,
    one map-side-combinable aggregate."""
    from market_insights_app_spark.operators.market import moments

    return moments(_events(spark, sf))


# r10 consolidation (sanctioned by the r9 verdict): the registry row
# `pairwise_corr_dense` is RETIRED — the blocked-BLAS Gram lane
# (operators/market.pairwise_corr_dense) remains the scale path and
# keeps its bit-equality pins against ★pairwise_corr in
# tests/test_market_analytics.py and tests/test_property_based.py.


def q_resample_ffill(spark: SparkSession, sf: str) -> DataFrame:
    """Regular hourly grid per series with forward fill (operators/
    market.resample_ffill): last tick per occupied bucket, per-key
    span exploded to the grid, one ordered last(ignorenulls) window.
    Gap cells flagged."""
    from market_insights_app_spark.operators.market import resample_ffill

    out = resample_ffill(_events(spark, sf))
    return out.select(
        "user_id",
        ts_us("bucket_ts").alias("hour_us"),
        "close_ffill",
        "is_gap",
    )


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation / CDC derivation (operators/reconcile.
    snapshot_diff): two deterministic snapshots of ``orders`` — OLD
    drops keys ≡0 (mod 89), NEW drops keys ≡0 (mod 97) and reprices
    1-URGENT orders by +10.00 — diffed into added / removed / changed
    rows via ONE key-co-partitioned full-outer join with a NULL-safe
    JVM change predicate. Unchanged rows are suppressed (the 100 TB
    default: the diff is CDC-sized, not table-sized)."""
    from market_insights_app_spark.operators.reconcile import snapshot_diff

    orders = load_table(spark, sf, "orders")
    old = orders.filter(F.col("o_orderkey") % 89 != 0)
    new = orders.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.col("o_totalprice") + F.lit(10.0),
        ).otherwise(F.col("o_totalprice")),
    )
    out = snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    return out.select(
        "o_orderkey",
        "status",
        F.round("old_o_totalprice", 2).alias("old_totalprice"),
        F.round("new_o_totalprice", 2).alias("new_totalprice"),
        F.col("old_o_orderstatus").alias("old_status"),
        F.col("new_o_orderstatus").alias("new_status"),
    )


def q_trend_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type least-squares drift line (operators/market.
    ols_trend): slope, intercept at the 2024-01-01 origin, and R² of
    value vs event time from exact DECIMAL sufficient statistics —
    one map-side-combining aggregate, k×6 decimal partials in the
    shuffle, final statistics a single bit-identical double
    expression per series."""
    from market_insights_app_spark.operators.market import ols_trend

    return ols_trend(_events(spark, sf), key_col="event_type")


def q_cdc_apply_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CDC round-trip law as a driver gate (operators/reconcile.
    apply_changes): reconstruct the NEW orders snapshot from the OLD
    snapshot plus the snapshot_diff change feed — the oracle computes
    NEW directly, so a hash match proves apply(old, diff(old, new)) ==
    new cross-engine. Scale shape: base moves once through one left
    join against the CDC-sized change set, plus the added-row union."""
    from market_insights_app_spark.operators.reconcile import (
        apply_changes,
        snapshot_diff,
    )

    orders = load_table(spark, sf, "orders")
    old = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.col("o_totalprice") + F.lit(10.0),
            ).otherwise(F.col("o_totalprice")),
        )
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )
    diff = snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    rebuilt = apply_changes(
        old, diff, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    return rebuilt.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        "o_orderstatus",
    )


def q_validate_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectation gate (operators/expectations.
    validate_table): all row-level rules fold into ONE aggregate over
    one lineitem scan; the unique-key rule is one groupBy; referential
    integrity to orders is one left-anti join. Report = one row per
    rule with pass/fail — the publish gate of a 100 TB pipeline."""
    from market_insights_app_spark.operators.expectations import validate_table

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    return validate_table(
        li,
        not_null=["l_orderkey", "l_quantity", "l_shipdate"],
        ranges={"l_quantity": (1.0, 50.0), "l_discount": (0.0, 0.1)},
        accepted={"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]},
        unique=["l_orderkey", "l_linenumber"],
        foreign_key=("l_orderkey", orders, "o_orderkey"),
    )


def q_scd2_user_state(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing dimension from the event log (operators/
    reconcile.scd2_build): per user, each event_type change opens a
    validity interval; consecutive same-type events collapse as no-op
    updates. One key-partitioned shuffle feeds both windows (lag
    change-detection + lead interval close)."""
    from market_insights_app_spark.operators.reconcile import scd2_build

    out = scd2_build(
        _events(spark, sf),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        "event_type",
        ts_us("valid_from").alias("valid_from_us"),
        ts_us("valid_to").alias("valid_to_us"),
        "is_current",
    )


def q_pit_feature_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time feature lookup (operators/reconcile.pit_lookup):
    each purchase event is enriched with the user's state — the SCD2
    interval (built from the non-purchase event stream) valid at the
    purchase timestamp. The leakage-safe feature join: rides the
    union-merge as-of join, one shuffle per side, no range
    cross-product. Zero-length intervals (same-microsecond
    transitions) are dropped on both engines so the as-of tie is
    well-defined."""
    from market_insights_app_spark.operators.reconcile import (
        pit_lookup,
        scd2_build,
    )

    ev = _events(spark, sf)
    dim = scd2_build(
        ev.filter(F.col("event_type") != "purchase"),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_col="event_id",
    ).filter(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    out = pit_lookup(facts, dim, key="user_id", fact_ts="ts", attr_cols=["event_type"])
    return out.select(
        "user_id",
        "event_id",
        ts_us("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
        F.col("pit_event_type"),
    )


def q_robust_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Median/MAD anomaly report per event_type (operators/profiling.
    robust_outliers): robust z-score |v - median| > 3 * 1.4826 * MAD.
    Three grouped passes, each intermediate a k-row broadcast; the two
    exact-percentile passes move value buffers through their exchange
    (the sketch twin robust_outliers_approx is the 100 TB lane)."""
    from market_insights_app_spark.operators.profiling import robust_outliers

    return robust_outliers(_events(spark, sf), "event_type", "value")


def q_sketch_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-lane error-bound gate (operators/sketches.
    sketch_accuracy_report): per event_type, exact n and distinct-user
    counts plus BOOLEANS asserting the GK quantile sketch (p50/p90 of
    value, accuracy 10⁴) and the HLL++ distinct estimate sit inside
    their published error bounds, checked against exact counts in the
    same job.  The DuckDB oracle emits literal TRUEs — a sketch
    regression flips a boolean and hash-fails the driver gate.  This
    row is what makes the 100 TB sketch lane (robust_outliers_approx /
    value_quantiles_approx / perplexity_buckets_approx / hll_profile)
    driver-verified rather than promised."""
    from market_insights_app_spark.operators.sketches import (
        sketch_accuracy_report,
    )

    return sketch_accuracy_report(
        _events(spark, sf), "event_type", "value", "user_id"
    )


def q_quantile_binning(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth discretization, the feature-engineering primitive:
    10 quantile bins of value per event_type via ntile over a
    deterministic (value, event_id) order; per-bin count and edges.
    One shuffle on the group key feeds the window AND the bin
    aggregate. (Equal-width binning lives in q_histogram; this is the
    rank-based twin whose bins stay balanced under skew.)"""
    ev = _events(spark, sf)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    binned = ev.select(
        "event_type", "value", F.ntile(10).over(w).alias("bin")
    )
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


def q_twap_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Daily TWAP per series (operators/market.twap): tick values
    weighted by exact microsecond holding intervals that partition the
    day; DECIMAL sums, one double division. Single (key, day)
    shuffle."""
    from market_insights_app_spark.operators.market import twap

    out = twap(_events(spark, sf))
    return out.select(
        "user_id", ts_us("day").alias("day_us"), "twap"
    )


def q_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution drift monitor (operators/profiling.psi_drift):
    PSI of value per event_type between the first and second half of
    January, binned on the reference deciles. Edge table broadcast,
    binning scan-stage, arithmetic over k x bins tiny rows."""
    from market_insights_app_spark.operators.profiling import psi_drift

    ev = _events(spark, sf)
    cut = "2024-01-16"
    ref = ev.filter(F.col("ts") < F.lit(cut).cast("timestamp_ntz"))
    cur = ev.filter(F.col("ts") >= F.lit(cut).cast("timestamp_ntz"))
    return psi_drift(ref, cur, "event_type", "value")


def q_incremental_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental view maintenance gate (operators/reconcile.
    agg_delta + incremental_agg_update): the orders revenue-by-status
    aggregate is materialized from the OLD snapshot, the snapshot_diff
    change feed (including group migrations: repriced urgent orders)
    folds in as per-group deltas, and the oracle recomputes the
    aggregate directly from NEW — the hash match proves base + delta
    == recompute. Sums in DECIMAL: fp summation order would break the
    invariant."""
    from market_insights_app_spark.operators.reconcile import (
        agg_delta,
        incremental_agg_update,
        snapshot_diff,
    )

    orders = load_table(spark, sf, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    old = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey", price.alias("o_totalprice"), "o_orderstatus"
    )
    new = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                price + F.lit(10).cast("decimal(18,2)"),
            )
            .otherwise(price)
            .alias("o_totalprice"),
            # urgent orders also migrate status group: exercises the
            # two-sided delta (leave old group, enter new group)
            F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("U"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
        )
    )
    base_agg = old.groupBy("o_orderstatus").agg(
        F.sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    diff = snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )
    delta = agg_delta(diff, "o_orderstatus", "o_totalprice")
    updated = incremental_agg_update(
        base_agg, delta, "o_orderstatus", "revenue", "n_orders"
    )
    return updated.select(
        "o_orderstatus",
        F.col("revenue").cast("decimal(20,2)").alias("revenue"),
        "n_orders",
    )


def q_ab_welch_t(spark: SparkSession, sf: str) -> DataFrame:
    """Experiment readout per event_type: Welch's t-statistic between
    a hash-assigned treatment (odd user_id) and control. The six
    sufficient statistics (n, Σv, Σv² per arm) come from ONE
    conditional map-side-combining aggregate — no self-join, no second
    pass — in DECIMAL (v² sized like series_moments), and the
    t-statistic is a single double expression: bit-identical
    cross-engine. Degenerate arms (n < 2 or zero pooled variance)
    yield NULL.

    Overflow contract (shared with ols_trend / twap): values are
    exact at |value| < 10⁶ (DECIMAL(8,2)); beyond that Spark nulls the
    cast (corrupting the arm mean silently) while DuckDB hard-errors,
    so the domain bound is part of the oracle contract."""
    ev = _events(spark, sf)
    t = (F.col("user_id") % 2 == 1).cast("int")
    v = F.col("value").cast("decimal(8,2)")
    stats = ev.groupBy("event_type").agg(
        F.sum(t).cast("decimal(12,0)").alias("n1"),
        F.sum(F.when(t == 1, v)).cast("decimal(20,2)").alias("s1"),
        F.sum(F.when(t == 1, v * v)).cast("decimal(24,4)").alias("ss1"),
        (F.count(F.lit(1)) - F.sum(t)).cast("decimal(12,0)").alias("n0"),
        F.sum(F.when(t == 0, v)).cast("decimal(20,2)").alias("s0"),
        F.sum(F.when(t == 0, v * v)).cast("decimal(24,4)").alias("ss0"),
    )
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    s1, s0 = F.col("s1").cast("double"), F.col("s0").cast("double")
    ss1, ss0 = F.col("ss1").cast("double"), F.col("ss0").cast("double")
    m1, m0 = s1 / n1, s0 / n0
    var1 = (ss1 - s1 * s1 / n1) / (n1 - 1.0)
    var0 = (ss0 - s0 * s0 / n0) / (n0 - 1.0)
    se2 = var1 / n1 + var0 / n0
    tstat = F.when(
        (n1 > 1.0) & (n0 > 1.0) & (se2 > 0.0), (m1 - m0) / F.sqrt(se2)
    )
    return stats.select(
        "event_type",
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_control"),
        F.round(m1 - m0, 6).alias("mean_diff"),
        F.round(tstat, 6).alias("welch_t"),
    )


def q_ab_mann_whitney(spark: SparkSession, sf: str) -> DataFrame:
    """Non-parametric experiment readout per event_type: Mann-Whitney
    U between the hash-assigned arms (odd user_id = treatment), with
    average ranks for ties and the tie-corrected normal approximation.
    Rank arithmetic is exact rational halves (doubles represent .5
    exactly), so the statistic is engine-exact by construction — no
    libm in the U itself. One window pass + one aggregate sharing the
    event_type partitioning."""
    ev = _events(spark, sf)
    t = (F.col("user_id") % 2 == 1).cast("int")
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc())
    wt = Window.partitionBy("event_type", "value")
    ranked = ev.select(
        "event_type",
        t.alias("t"),
        (
            F.rank().over(w).cast("double")
            + (F.count(F.lit(1)).over(wt).cast("double") - 1.0) / 2.0
        ).alias("r"),
        F.count(F.lit(1)).over(wt).alias("tie_n"),
        "value",
    )
    stats = ranked.groupBy("event_type").agg(
        F.sum(F.when(F.col("t") == 1, F.col("r"))).alias("r1"),
        F.sum("t").cast("double").alias("n1"),
        F.sum(1 - F.col("t")).cast("double").alias("n0"),
        # sum over DISTINCT tie groups of (t^3 - t): every member of a
        # tie group carries tie_n, so divide the per-row contribution
        # by the group size to count each group once
        F.sum(
            (
                F.col("tie_n") * F.col("tie_n") * F.col("tie_n")
                - F.col("tie_n")
            ).cast("double")
            / F.col("tie_n").cast("double")
        ).alias("tie_term"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    n = n1 + n0
    u1 = F.col("r1") - n1 * (n1 + 1.0) / 2.0
    mu = n1 * n0 / 2.0
    # n must exceed 1 BEFORE the tie-term division: `var` appears in a
    # when() CONDITION below, which evaluates eagerly, so an unguarded
    # n·(n−1) divisor is an ANSI DIVIDE_BY_ZERO job abort on a
    # single-row group (r7 single-row sweep)
    var = F.when(
        n > 1.0,
        (n1 * n0 / 12.0) * ((n + 1.0) - F.col("tie_term") / (n * (n - 1.0))),
    )
    z = F.when(var > 0.0, (u1 - mu) / F.sqrt(var))
    return stats.select(
        "event_type",
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_control"),
        F.round(u1, 1).alias("u_stat"),
        F.round(z, 6).alias("z_approx"),
    )


def q_daily_sharpe(spark: SparkSession, sf: str) -> DataFrame:
    """Annualized Sharpe per series from daily close-to-close returns
    (operators/market.daily_returns + sharpe_ratio): the risk-adjusted
    summary beside max_drawdown.  All aggregates over DECIMAL returns
    (exact sufficient statistics); one (key, day) shuffle feeds
    close/lag, one key shuffle the stats."""
    from market_insights_app_spark.operators.market import (
        daily_returns,
        sharpe_ratio,
    )

    rets = daily_returns(_events(spark, sf))
    out = sharpe_ratio(rets)
    return out.select(
        F.col("k").alias("user_id"),
        "n_days",
        F.col("mean_ret").cast("double").alias("mean_ret"),
        F.col("vol").cast("double").alias("vol"),
        "sharpe",
    )


def q_beta_benchmark(spark: SparkSession, sf: str) -> DataFrame:
    """CAPM beta/alpha of every series against the equal-weight
    cross-sectional benchmark (operators/market.beta_vs_benchmark):
    day-level market means broadcast back onto the returns, one
    sufficient-statistic pass per key.

    r13: the returns frame feeds BOTH the day-keyed market mean and
    the per-key stats join, so without the checkpoint each lane
    re-derives daily_returns from the raw ticks (two sort-aggregates
    + a window, twice) — the q_rolling_corr_market trade: the returns
    table is key×day-sized, materializing it once is right at any
    scale."""
    from market_insights_app_spark.operators.market import (
        beta_vs_benchmark,
        daily_returns,
    )

    rets = daily_returns(_events(spark, sf)).localCheckpoint(eager=False)
    out = beta_vs_benchmark(rets)
    return out.select(
        F.col("k").alias("user_id"),
        "n_days",
        "beta",
        F.col("alpha").cast("double").alias("alpha"),
    )


def q_transition_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over each user's
    event-type sequence (operators/windows.transition_matrix) — the
    sequence-model summary (next-event prediction baseline, funnel
    sanity check).  P(next|prev) is one division of exact longs."""
    from market_insights_app_spark.operators.windows import transition_matrix

    out = transition_matrix(
        _events(spark, sf), ["user_id"], "event_type"
    )
    # p is ONE double division of exact longs — bit-identical
    # cross-engine; emitted unrounded (round() can perceive half-way
    # points differently per engine — see market.daily_returns)
    return out.select("prev_state", "next_state", "n", "p")


def q_zscore_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-20 z-score anomaly scan per user
    (operators/windows.rolling_zscore_anomalies), flagged rows only —
    the monitoring query a pipeline runs on every metric series.  The
    flag compares the 6-dp-rounded z so the threshold is
    engine-portable."""
    from market_insights_app_spark.operators.windows import (
        rolling_zscore_anomalies,
    )

    out = rolling_zscore_anomalies(
        _events(spark, sf), ["user_id"], n=20, threshold=3.0
    )
    return out.filter(F.col("is_anomaly")).select(
        "user_id",
        ts_us("ts").alias("ts_us"),
        "event_id",
        "value",
        "z",
    )


def q_key_skew(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew report for events.user_id
    (operators/profiling.key_skew): top-20 heaviest keys with share and
    cumulative share — the diagnosis that precedes salting
    (q_salted_hot_agg is the remedy)."""
    from market_insights_app_spark.operators.profiling import key_skew

    # shares are single divisions of exact longs — emitted unrounded
    out = key_skew(_events(spark, sf), ["user_id"], top_n=20)
    return out.select(
        "rank", "user_id", "n_rows", "share", "cum_share", "n_keys_total"
    )


def q_interval_join_stream_replay(spark: SparkSession, sf: str) -> DataFrame:
    """ST-family driver evidence for the STREAM-STREAM interval join
    (streaming/ingest.interval_join_stream): purchases and clicks
    replayed as two availableNow file streams, joined on user within
    the preceding 30 minutes, drained to a memory sink — the streaming
    twin of q_click_attribution, hash-gated against the same interval
    oracle.  The two-sided watermark + range predicate are exactly the
    state-bounding construction production would run; in replay the
    single availableNow batch emits every in-interval match."""
    import uuid

    from market_insights_app_spark.streaming.ingest import (
        events_file_stream,
        interval_join_stream,
        run_available_now_to_memory,
    )

    purchases = (
        events_file_stream(spark, sf, max_files_per_trigger=10_000)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("l_uid"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("pts"),
        )
    )
    clicks = (
        events_file_stream(spark, sf, max_files_per_trigger=10_000)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("r_uid"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
    )
    joined = interval_join_stream(
        purchases,
        clicks,
        left_key="l_uid",
        right_key="r_uid",
        left_ts="pts",
        right_ts="cts",
        within="30 minutes",
    )
    name = f"ivj_replay_{uuid.uuid4().hex[:8]}"
    # drain width 4 (r12, was 8): interleaved A/B measured 2.92/3.23 s
    # at 8 vs 2.22/2.36 s at 4 — the JVM symmetricHashJoin keeps 4
    # state stores per partition, so halving the near-empty stores
    # halves their fixed cost.  The applyInPandasWithState replays
    # measured the OTHER way (Python-worker parallelism wants width),
    # so only this JVM-stateful drain narrows.
    # SCALE_NOTES.md "r11 addendum: replay drain-width", at commit faebac6.
    run_available_now_to_memory(joined, name, "append", shuffle_partitions=4)
    return spark.table(name).select(
        "purchase_id",
        "click_id",
        (ts_us("pts") - ts_us("cts")).alias("delta_us"),
    )


def q_rolling_corr_market(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-20-day correlation of each series' return vs the
    equal-weight market (operators/market.rolling_market_corr) — the
    time-varying regime monitor beside the static beta.  All five
    windowed sufficient statistics are exact integer fixed-point sums;
    warm-up and degenerate windows yield NULL.

    The returns frame feeds BOTH the day-keyed market mean and the
    per-key window lane; without the checkpoint each lane re-derives
    it from the raw ticks — a second full tick scan at 100 TB.  The
    returns table is key×day-sized (massively reduced), so
    materializing it once is the right trade at any scale."""
    from market_insights_app_spark.operators.market import (
        daily_returns,
        rolling_market_corr,
    )

    rets = daily_returns(_events(spark, sf)).localCheckpoint(eager=False)
    out = rolling_market_corr(rets, n=20)
    return out.select(
        F.col("k").alias("user_id"),
        ts_us("d").alias("day_us"),
        "roll_corr",
    )


def q_var_cvar(spark: SparkSession, sf: str) -> DataFrame:
    """Historical 10% VaR + CVaR per series from daily close-to-close
    returns (operators/market.var_cvar) — the left-tail risk readout
    beside ★daily_sharpe.  Alpha 0.10 keeps the tail ≥ 6 rows on the
    ~66-day sf0.01 fixture so the expected-shortfall mean is a real
    multi-row aggregate, not a single order statistic."""
    from market_insights_app_spark.operators.market import (
        daily_returns,
        var_cvar,
    )

    rets = daily_returns(_events(spark, sf))
    out = var_cvar(rets, alpha=0.10)
    return out.select(
        F.col("k").alias("user_id"),
        "n_days",
        "tail_n",
        "var_a",
        "cvar_a",
    )
