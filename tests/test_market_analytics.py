"""Golden-value unit tests for operators/market.py — candle resample,
VWAP, drawdown, pairwise correlation, distribution moments. The
driver-gate parity at sf0.01 checks cross-engine agreement; these pin
the SEMANTICS on hand-computed fixtures (tiebreaks, guards, NULLs)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from market_insights_app_spark.operators.market import (
    max_drawdown,
    moments,
    ohlc_bars,
    pairwise_corr,
    vwap,
)


def _ts(day, h=0, m=0):
    return dt.datetime(2024, 1, day, h, m)


COLS = ["user_id", "ts", "event_id", "value", "vol"]


@pytest.fixture()
def ticks(spark):
    rows = [
        # day 1, user 1: open=10 (earliest), close=30 (latest), high=40, low=5
        (1, _ts(1, 9), 1, 10.0, 2),
        (1, _ts(1, 10), 2, 40.0, 1),
        (1, _ts(1, 11), 3, 5.0, 3),
        (1, _ts(1, 12), 4, 30.0, 4),
        # day 1, user 2: SAME ts for both rows — event_id breaks the tie:
        # open is id 5 (=7.0), close is id 6 (=9.0)
        (2, _ts(1, 9), 5, 7.0, 0),
        (2, _ts(1, 9), 6, 9.0, 0),
        # day 2, user 1: single tick
        (1, _ts(2, 9), 7, 20.0, 5),
    ]
    return spark.createDataFrame(rows, COLS)


def test_ohlc_golden(ticks):
    bars = ohlc_bars(ticks, volume=F.col("vol"))
    got = {
        (r.user_id, r.bucket_ts.day): (r.open, r.high, r.low, r.close, r.n_ticks, r.volume)
        for r in bars.collect()
    }
    assert got[(1, 1)] == (10.0, 40.0, 5.0, 30.0, 4, 10)
    assert got[(2, 1)] == (7.0, 9.0, 7.0, 9.0, 2, 0)
    assert got[(1, 2)] == (20.0, 20.0, 20.0, 20.0, 1, 5)


def test_vwap_golden_and_zero_volume_guard(ticks):
    out = vwap(ticks, volume=F.col("vol"))
    got = {(r.user_id, r.bucket_ts.day): (r.vwap, r.volume) for r in out.collect()}
    # user 1 day 1: (10*2 + 40*1 + 5*3 + 30*4) / 10 = 195/10
    assert got[(1, 1)] == (19.5, 10)
    # user 2 day 1: total volume 0 -> NULL, not NaN/div-by-zero
    assert got[(2, 1)] == (None, 0)
    assert got[(1, 2)] == (20.0, 5)


def test_max_drawdown_golden(spark):
    rows = [
        # peak 100 -> trough 60: dd = 0.4; later peak 120 -> 90: dd = 0.25
        (1, _ts(1, 9), 1, 100.0, 0),
        (1, _ts(1, 10), 2, 60.0, 0),
        (1, _ts(1, 11), 3, 120.0, 0),
        (1, _ts(1, 12), 4, 90.0, 0),
        # monotone series: max drawdown 0
        (2, _ts(1, 9), 5, 1.0, 0),
        (2, _ts(1, 10), 6, 2.0, 0),
    ]
    df = spark.createDataFrame(rows, COLS)
    got = {r.user_id: (r.n_ticks, r.max_drawdown) for r in max_drawdown(df).collect()}
    assert got[1] == (4, 0.4)
    assert got[2] == (2, 0.0)


def test_max_drawdown_nonpositive_peak_is_null(spark):
    df = spark.createDataFrame(
        [(1, _ts(1, 9), 1, 0.0, 0), (1, _ts(1, 10), 2, -1.0, 0)], COLS
    )
    [r] = max_drawdown(df).collect()
    assert r.max_drawdown is None


def test_pairwise_corr_golden(spark):
    rows = []
    # user 1 and 2 perfectly correlated, user 3 perfectly anti-correlated,
    # one tick per hour so bucket sums == tick values
    for h, v in [(9, 1.0), (10, 2.0), (11, 3.0)]:
        rows.append((1, _ts(1, h), h, v, 0))
        rows.append((2, _ts(1, h), 100 + h, 10 * v, 0))
        rows.append((3, _ts(1, h), 200 + h, -v, 0))
    df = spark.createDataFrame(rows, COLS)
    got = {(r.ka, r.kb): (r.n_buckets, r.corr) for r in pairwise_corr(df).collect()}
    assert got[(1, 2)][0] == 3
    assert got[(1, 2)][1] == pytest.approx(1.0)
    assert got[(1, 3)][1] == pytest.approx(-1.0)
    assert got[(2, 3)][1] == pytest.approx(-1.0)
    # unordered pairs emitted once: no (2,1) key
    assert (2, 1) not in got


def test_pairwise_corr_requires_shared_buckets(spark):
    # users never active in the same hour -> no pair row
    rows = [(1, _ts(1, 9), 1, 1.0, 0), (2, _ts(1, 10), 2, 2.0, 0)]
    df = spark.createDataFrame(rows, COLS)
    assert pairwise_corr(df).count() == 0


def test_moments_golden(spark):
    # symmetric values: skewness exactly 0; uniform{1..5} kurtosis -1.3
    rows = [(1, _ts(1, 9 + i % 12), i, float(v), 0) for i, v in enumerate([1, 2, 3, 4, 5])]
    # constant series: stddev 0, skew/kurt NULL (m2 = 0 guard)
    rows += [(2, _ts(1, 9 + i), 100 + i, 7.0, 0) for i in range(4)]
    df = spark.createDataFrame(rows, COLS)
    got = {r.user_id: r for r in moments(df).collect()}
    m1 = got[1]
    assert m1.mean == pytest.approx(3.0)
    assert m1.stddev == pytest.approx(1.581139, abs=1e-6)
    assert m1.skewness == pytest.approx(0.0)
    assert m1.kurtosis == pytest.approx(-1.3)
    m2 = got[2]
    assert m2.stddev == 0.0 and m2.skewness is None and m2.kurtosis is None


def test_pairwise_corr_dense_matches_join_lane(spark):
    """The BLAS Gram lane must reproduce the decimal join lane
    bit-for-bit (integer-valued float64 matmuls + identical descaling
    + identical final expression)."""
    from market_insights_app_spark.operators.market import pairwise_corr_dense
    from market_insights_app_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    a = {tuple(r) for r in pairwise_corr(ev).collect()}
    b = {tuple(r) for r in pairwise_corr_dense(ev, n_blocks=4).collect()}
    assert a == b and len(a) > 0


def test_pairwise_corr_dense_overflow_guard(spark):
    import pytest as _pt

    from market_insights_app_spark.operators.market import pairwise_corr_dense

    rows = [(1, _ts(1, 9), 1, 9e13, 0), (2, _ts(1, 9), 2, 9e13, 0),
            (1, _ts(1, 10), 3, 9e13, 0), (2, _ts(1, 10), 4, 9e13, 0)]
    df = spark.createDataFrame(rows, COLS)
    with _pt.raises(Exception, match="exceeds exact float64|exceeded|Overflow|cannot be represented"):
        pairwise_corr_dense(df, n_blocks=2).collect()


def test_resample_ffill_golden(spark):
    from market_insights_app_spark.operators.market import resample_ffill

    rows = [
        # user 1: ticks at 09 and 12 -> grid 09,10,11,12; 10/11 gaps
        # carry 5.0 forward; within-hour last (ts,id) wins at 09
        (1, _ts(1, 9, 0), 1, 4.0, 0),
        (1, _ts(1, 9, 30), 2, 5.0, 0),
        (1, _ts(1, 12, 0), 3, 9.0, 0),
    ]
    df = spark.createDataFrame(rows, COLS)
    got = {
        r.bucket_ts.hour: (r.close_ffill, r.is_gap)
        for r in resample_ffill(df).collect()
    }
    assert got == {
        9: (5.0, False),
        10: (5.0, True),
        11: (5.0, True),
        12: (9.0, False),
    }


def test_twap_holding_intervals(spark):
    """Hand-computed TWAP: v=10 for 6h, v=20 for 12h, v=30 for 6h
    (last tick holds to midnight) -> (10*6 + 20*12 + 30*6) / 24 = 20."""
    import datetime as dt

    from market_insights_app_spark.operators.market import twap

    rows = [
        (1, dt.datetime(2024, 1, 1, 0), 1, 10.0),
        (1, dt.datetime(2024, 1, 1, 6), 2, 20.0),
        (1, dt.datetime(2024, 1, 1, 18), 3, 30.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    r = twap(df).collect()[0]
    assert r["twap"] == pytest.approx((10 * 6 + 20 * 12 + 30 * 6) / 24.0)


def test_twap_same_ts_zero_weight(spark):
    """Two ticks at the same instant: the earlier (by tiebreak) gets
    zero holding time and cannot move the average."""
    import datetime as dt

    from market_insights_app_spark.operators.market import twap

    rows = [
        (1, dt.datetime(2024, 1, 1, 0), 1, 999.0),   # zero-weight
        (1, dt.datetime(2024, 1, 1, 0), 2, 10.0),    # holds all day
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    r = twap(df).collect()[0]
    assert r["twap"] == pytest.approx(10.0)


def test_value_quantiles_golden_interpolation(spark):
    """Golden pin for exact per-group percentiles (the value law stays
    pinned here whatever happens to its registry row): a hand-built
    5-point group where every linear-interpolation value is computable
    by hand, and a 1-point group where all percentiles collapse to that
    point."""
    import datetime as dt

    from market_insights_app_spark.plans.core import q_value_quantiles
    import tempfile

    rows = [
        (i, 1, dt.datetime(2024, 1, 1, 0, i), "a", v)
        for i, v in enumerate([10.0, 20.0, 30.0, 40.0, 50.0])
    ] + [(99, 2, dt.datetime(2024, 1, 2), "b", 7.0)]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    d = tempfile.mkdtemp(prefix="vq_golden_")
    ev.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r.event_type: (r.p50, r.p90, r.p99) for r in
           q_value_quantiles(spark, d).collect()}
    # n=5: p50 = 30; p90 = idx 3.6 -> 40 + 0.6*10 = 46; p99 -> 49.6
    assert got["a"] == (30.0, 46.0, 49.6)
    assert got["b"] == (7.0, 7.0, 7.0)
