"""Market-analytics extensions over tick-shaped series — the classic
chart/statistics operators a user of the reference app (price series,
main.js chart panels) reaches for next: candle resampling, VWAP,
drawdown, cross-series correlation, and distribution moments.

Cross-engine determinism contract (shared with plans/core.py): every
aggregate accumulates in DECIMAL (exact, summation-order-free), the
final statistic is ONE double expression over the decimal sums, and
per-row doubles round to 6 dp.

Scale shapes (100 TB tick store):
- ``ohlc_bars`` / ``vwap`` — single window + groupBy sharing the
  (key, bucket) partitioning: one shuffle, map-side partial aggs.
- ``max_drawdown`` — one running-max window pass + one groupBy on the
  same key: one shuffle.
- ``pairwise_corr`` — aligns on coarse time buckets FIRST (the
  per-key reduce shrinks n ticks to n_buckets rows per key), so the
  quadratic pair join runs over the aligned table, not the ticks; the
  bucket-equi self-join co-partitions on the bucket.
- ``moments`` — pure map-side-combinable aggregate, one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from market_insights_app_spark.functions.scalars import ts_us

DEC = "decimal(18,2)"


def ohlc_bars(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "day",
    volume: Column | None = None,
) -> DataFrame:
    """Downsample ticks to OHLC(+V) candles per (key, bucket) — the
    bar-chart resample behind every candlestick panel (reference
    renders raw ticks client-side, main.js chart; this is the server
    form that survives 100 TB).

    open/close are row_number-selected on the total order (ts, id) —
    portable to any engine (DuckDB arg_min/arg_max cannot take a
    composite ordering key), and the two row_numbers share ONE window
    partitioning with the groupBy, so the whole resample is a single
    shuffle.
    """
    # project the bucket BEFORE the window so the window partitioning
    # and the bar groupBy hash the same attribute — Catalyst then elides
    # the second Exchange (partitioning on the raw date_trunc expression
    # instead leaves a redundant shuffle after the partial aggregate)
    base = df.select(
        F.col(key_col),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(value_col).alias("v"),
        *([volume.alias("vol")] if volume is not None else []),
    )
    w = Window.partitionBy(F.col(key_col), F.col("bucket_ts"))
    asc = w.orderBy(F.col("__ts").asc(), F.col("__id").asc())
    desc = w.orderBy(F.col("__ts").desc(), F.col("__id").desc())
    ticks = base.select(
        F.col(key_col),
        "bucket_ts",
        "v",
        *(["vol"] if volume is not None else []),
        F.row_number().over(asc).alias("rn_a"),
        F.row_number().over(desc).alias("rn_d"),
    )
    aggs = [
        F.max(F.when(F.col("rn_a") == 1, F.col("v"))).alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("v"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    ]
    if volume is not None:
        aggs.append(F.sum(F.col("vol").cast("long")).alias("volume"))
    return ticks.groupBy(key_col, "bucket_ts").agg(*aggs)


def vwap(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    volume: Column | None = None,
    bucket: str = "day",
) -> DataFrame:
    """Volume-weighted average price per (key, bucket). Price×volume
    and volume both sum in DECIMAL (exact); the VWAP is one double
    division over the two sums, emitted UNROUNDED — the quotient of a
    2-dp decimal by an integer volume lands on true decimal half-way
    points (e.g. 8347.80/128 = 65.2171875), where Spark's exact-
    decimal-expansion HALF_UP and DuckDB's multiply-then-round double
    round() disagree by 1 ulp (observed 3/40,083 buckets at sf0.1,
    r11); the unrounded doubles are bit-identical, the repo's
    standing remedy for this class.  Zero-volume buckets yield NULL
    (guard, not NaN). Single map-side-combinable aggregate — one
    shuffle.  Domain contract: per-tick volume < 10⁹ (DECIMAL(9,0));
    outside it Spark nulls the cast while DuckDB errors — widen both
    twins together."""
    vol = volume if volume is not None else F.lit(1)
    pv = F.col(value_col).cast(DEC) * vol.cast("decimal(9,0)")
    out = (
        df.select(
            F.col(key_col),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
            pv.alias("pv"),
            vol.cast("decimal(9,0)").alias("vol"),
        )
        .groupBy(key_col, "bucket_ts")
        .agg(
            F.sum("pv").alias("spv"),
            F.sum("vol").cast("long").alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
    return out.select(
        key_col,
        "bucket_ts",
        F.when(
            F.col("volume") > 0,
            F.col("spv").cast("double") / F.col("volume").cast("double"),
        ).alias("vwap"),
        "volume",
        "n_ticks",
    )


def max_drawdown(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Maximum peak-to-trough drawdown per series — the equity-curve
    risk number next to the reference's win-rate/PnL stats
    (main.js:990-1000 renders the curve; this is its summary).

    drawdown(t) = (peak(≤t) − v(t)) / peak(≤t), peak as a running max
    (exact on DECIMAL), the ratio one double division, max-reduced per
    key. Non-positive peaks (a series that starts ≤ 0) yield NULL
    rather than a sign-flipped ratio. One window pass + one groupBy on
    the same key: one shuffle."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value_col).cast(DEC)
    peak = F.max(v).over(w)
    ticks = df.select(
        F.col(key_col),
        v.alias("v"),
        peak.alias("peak"),
    )
    dd = F.when(
        F.col("peak") > 0,
        (F.col("peak") - F.col("v")).cast("double") / F.col("peak").cast("double"),
    )
    return (
        ticks.select(key_col, dd.alias("dd"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.round(F.max("dd"), 6).alias("max_drawdown"),
        )
    )


def pairwise_corr(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
    min_buckets: int = 2,
) -> DataFrame:
    """Pearson correlation between every pair of series, aligned on
    coarse time buckets — the cross-symbol correlation matrix.

    Alignment value is the per-bucket DECIMAL SUM (exact; an average
    would reintroduce engine-specific division per bucket). Pairs form
    by an equi self-join on the bucket (co-partitioned shuffle), keyed
    a < b to emit each unordered pair once, and the six sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL so the
    final correlation is one bit-identical double expression (same
    contract as plans/core.q_autocorr_lag1).

    Scale: the tick table reduces to (keys × buckets) rows BEFORE the
    quadratic join, and per-bucket pair fan-out is k² for k active
    keys — fine for symbol universes (k ≤ 10⁴); beyond that, block
    the key space and run the join per block pair."""
    b = df.select(
        F.col(key_col).alias("k"),
        F.date_trunc(bucket, F.col(ts_col)).alias("b"),
        F.col(value_col).cast(DEC).alias("v"),
    ).groupBy("k", "b").agg(
        # Spark widens SUM(DECIMAL(18,2)) to (28,2) whose pairwise
        # product would exceed precision 38 and silently round; the
        # cast back to (18,2) is exact (bucket sums ≪ 10^16) and keeps
        # Σxy / Σx² / Σy² inside exact-decimal range in BOTH engines.
        F.sum("v").cast(DEC).alias("s")
    )
    left = b.select(F.col("k").alias("ka"), "b", F.col("s").alias("x"))
    right = b.select(F.col("k").alias("kb"), "b", F.col("s").alias("y"))
    pairs = left.join(right, "b").filter(F.col("ka") < F.col("kb"))
    # repartition on the pair key BEFORE the stats aggregate: group
    # cardinality (~k²/2) is the same order as the pair-row count, so
    # map-side partial aggregation achieves almost no reduction yet
    # shuffles ~partitions × groups partial rows (measured 2× slower at
    # sf0.1: 11.7 s → 5.5 s with the explicit exchange-first shape).
    # After the repartition every group is colocated and the aggregate
    # completes without a second exchange. For dense universes beyond
    # ~10⁴ keys the blocked-BLAS Gram-matrix lane (key-block pairs,
    # int-cents partials — see operators/similarity.py's blocked
    # pattern) replaces the pair join entirely.
    stats = pairs.repartition("ka", "kb").groupBy("ka", "kb").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_buckets").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    # each variance factor is >= 0 in exact arithmetic (Cauchy-Schwarz)
    # but is computed here in DOUBLE off large casts, where cancellation
    # can land epsilon-negative; clamping at 0 BEFORE the sqrt keeps the
    # expression total in both engines (Spark sqrt(neg) is NaN -> NULL,
    # DuckDB sqrt(neg) RAISES — observed at sf0.1) and changes no value
    # where the factors are positive, so the twins stay bit-identical.
    vx = F.greatest(F.lit(0.0), nd * sxx - sx * sx)
    vy = F.greatest(F.lit(0.0), nd * syy - sy * sy)
    den = F.sqrt(vx * vy)
    return stats.filter(F.col("n_buckets") >= min_buckets).select(
        "ka",
        "kb",
        "n_buckets",
        F.when(den > 0, num / den).alias("corr"),
    )


def moments(
    df: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-series distribution moments: mean, sample stddev, skewness,
    excess kurtosis — return-distribution shape for a price panel,
    column-distribution shape for a dataset profile.

    The four power sums Σv..Σv⁴ accumulate in DECIMAL sized to stay
    inside precision 38 in BOTH engines (v as DECIMAL(7,2) ⇒ v⁴ is
    DECIMAL(31,8); the sum widens without truncation), so the moment
    formulas are single double expressions over exact sums — no
    engine-specific skewness()/kurtosis() sample-vs-population
    ambiguity. One map-side-combinable aggregate, one shuffle.

    Domain contract: |value| < 10⁵ (the DECIMAL(7,2) cast). Outside
    it the engines DIVERGE in failure mode — Spark (non-ANSI) nulls
    the cast, DuckDB errors — so widen the cast (and re-derive the
    power widths) before pointing this at a larger-magnitude column."""
    v = F.col(value_col).cast("decimal(7,2)")
    stats = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mean = s1 / n
    # central moments from raw power sums
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    m4 = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * mean * mean * (s2 / n)
        - 3 * mean * mean * mean * mean
    )
    var_samp = F.when(n > 1, (s2 - s1 * s1 / n) / (n - 1))
    return stats.select(
        key_col,
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(var_samp), 6).alias("stddev"),
        F.round(
            F.when((n > 2) & (m2 > 0), m3 / (m2 * F.sqrt(m2))), 6
        ).alias("skewness"),
        F.round(
            F.when((n > 3) & (m2 > 0), m4 / (m2 * m2) - 3.0), 6
        ).alias("kurtosis"),
    )


def pairwise_corr_dense(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
    min_buckets: int = 2,
    n_blocks: int = 4,
) -> DataFrame:
    """Dense-universe lane of :func:`pairwise_corr`: instead of the
    bucket equi self-join (rows ~ Σ_b k_b²), keys are split into
    ``n_blocks`` blocks and every block PAIR becomes one applyInPandas
    task that computes the six sufficient statistics for all its key
    pairs as SIX MATRIX PRODUCTS over the (key × bucket) cent matrix —
    n = P_a P_bᵀ, Σx = X_a P_bᵀ, Σy = P_a X_bᵀ, Σxy = X_a X_bᵀ,
    Σx² = (X_a∘X_a) P_bᵀ, Σy² = P_a (X_b∘X_b)ᵀ (P = presence 0/1, so
    every sum ranges over SHARED buckets only, exactly like the join).

    Exactness contract: bucket sums are exact DECIMAL(18,2) → integer
    cents; the matmuls run in float64 whose intermediate values are all
    integers — integer-valued float64 arithmetic is EXACT in any
    summation order while magnitudes stay below 2⁵³ (guarded per task;
    overflow raises with a pointer to the decimal lane). The emitted
    integer stats are descaled by the same powers of ten the DECIMAL
    cast implies (correctly-rounded IEEE division == correctly-rounded
    decimal→double cast), so the final correlation expression is
    bit-identical to the join lane and shares its DuckDB oracle.

    Scale: each aligned row replicates into ≤ n_blocks tasks; task
    memory is (keys/n_blocks × buckets) ints — size n_blocks so that
    fits an executor. The quadratic work becomes BLAS-shaped instead
    of row-shaped: at 10⁴ keys the join lane shuffles ~5·10⁷ pair rows
    per bucket set while this lane moves the aligned table ~8× and
    multiplies in-core. Size ``n_blocks`` so a block's (keys/B ×
    buckets) matrix fits executor memory while keeping keys/B in the
    hundreds — over-fragmenting loses to per-task pivot overhead
    (measured at 500 keys × 10M ticks: join 15.7 s, B=8 11.6 s,
    B=4 2.9 s)."""
    import pandas as pd

    b = df.select(
        F.col(key_col).alias("k"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bts"),
        F.col(value_col).cast(DEC).alias("v"),
    ).groupBy("k", "bts").agg(F.sum("v").cast(DEC).alias("s"))
    # r14: each aligned row fans out to its ≤ n_blocks+1 task slots with
    # ONE generator expression over the literal task grid, instead of
    # r13's two task-grid joins + union over a localCheckpoint-ed
    # aligned table (the checkpoint write cost more than the saved
    # second aggregate in the driver's cold runs).  The aligned table
    # now has a single consumer — one scan, one aggregate, one explode,
    # no materialization.  Diagonal tasks no longer ship a redundant
    # side-1 copy (gram() never read it: for i == j it reuses side 0).
    aligned = b.select(
        "k",
        F.unix_micros(F.col("bts").cast("timestamp")).alias("bidx"),
        (F.col("s") * 100).cast("long").alias("cents"),
        F.pmod(F.col("k"), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    tasks_sql = ",".join(
        f"named_struct('i', {i}, 'j', {j})"
        for i in range(n_blocks)
        for j in range(n_blocks)
        if i <= j
    )
    both = aligned.select(
        F.explode(
            F.expr(
                f"transform(filter(array({tasks_sql}), "
                "t -> t.i = blk OR t.j = blk), "
                "t -> named_struct('i', t.i, 'j', t.j, "
                "'side', if(t.i = blk, 0, 1)))"
            )
        ).alias("t"),
        "k",
        "bidx",
        "cents",
    ).select(
        F.col("t.i").alias("i"),
        F.col("t.j").alias("j"),
        F.col("t.side").alias("side"),
        "k",
        "bidx",
        "cents",
    )

    def gram(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        diag = pdf["i"].iat[0] == pdf["j"].iat[0]
        sides = [pdf[pdf["side"] == 0]]
        sides.append(sides[0] if diag else pdf[pdf["side"] == 1])
        cols = np.unique(pdf["bidx"].to_numpy())
        col_ix = {c: n for n, c in enumerate(cols)}
        mats = []
        for sd in sides:
            piv = sd.drop_duplicates(subset=["k", "bidx"])
            keys = np.unique(piv["k"].to_numpy())
            key_ix = {kk: n for n, kk in enumerate(keys)}
            X = np.zeros((len(keys), len(cols)))
            P = np.zeros_like(X)
            # force integer dtype: an EMPTY side maps to a float64
            # series whose use as an index raises (caught by the
            # randomized lane-agreement property test)
            r = piv["k"].map(key_ix).to_numpy(dtype=np.int64, na_value=-1)
            c = piv["bidx"].map(col_ix).to_numpy(dtype=np.int64, na_value=-1)
            X[r, c] = piv["cents"].to_numpy().astype(np.float64)
            P[r, c] = 1.0
            mats.append((keys, X, P))
        (ka_keys, Xa, Pa), (kb_keys, Xb, Pb) = mats
        maxc = max(np.abs(Xa).max(initial=0.0), np.abs(Xb).max(initial=0.0))
        if maxc * maxc * len(cols) >= 2.0**53:
            raise ValueError(
                "pairwise_corr_dense: cents² × buckets exceeds exact "
                "float64 range — use the decimal join lane"
            )
        N = Pa @ Pb.T
        SX = Xa @ Pb.T
        SY = Pa @ Xb.T
        SXY = Xa @ Xb.T
        SXX = (Xa * Xa) @ Pb.T
        SYY = Pa @ (Xb * Xb).T
        ai, bi = np.nonzero(N >= min_buckets)
        ka, kb = ka_keys[ai], kb_keys[bi]
        keep = ka < kb  # dedupe diagonal blocks / orient cross blocks
        swap = ka > kb
        out = {
            "ka": np.where(swap, kb, ka),
            "kb": np.where(swap, ka, kb),
            "n_buckets": N[ai, bi],
            "sx": np.where(swap, SY[ai, bi], SX[ai, bi]),
            "sy": np.where(swap, SX[ai, bi], SY[ai, bi]),
            "sxy": SXY[ai, bi],
            "sxx": np.where(swap, SYY[ai, bi], SXX[ai, bi]),
            "syy": np.where(swap, SXX[ai, bi], SYY[ai, bi]),
        }
        sel = keep | (swap if not diag else np.zeros_like(keep))
        res = pd.DataFrame({k: v[sel] for k, v in out.items()})
        return res.astype("int64")

    stats = both.groupBy("i", "j").applyInPandas(
        gram,
        schema="ka long, kb long, n_buckets long, sx long, sy long, "
        "sxy long, sxx long, syy long",
    )
    nd = F.col("n_buckets").cast("double")
    sx, sy = F.col("sx") / 100.0, F.col("sy") / 100.0
    sxy = F.col("sxy") / 10000.0
    sxx, syy = F.col("sxx") / 10000.0, F.col("syy") / 10000.0
    num = nd * sxy - sx * sy
    # each variance factor is >= 0 in exact arithmetic (Cauchy-Schwarz)
    # but is computed here in DOUBLE off large casts, where cancellation
    # can land epsilon-negative; clamping at 0 BEFORE the sqrt keeps the
    # expression total in both engines (Spark sqrt(neg) is NaN -> NULL,
    # DuckDB sqrt(neg) RAISES — observed at sf0.1) and changes no value
    # where the factors are positive, so the twins stay bit-identical.
    vx = F.greatest(F.lit(0.0), nd * sxx - sx * sx)
    vy = F.greatest(F.lit(0.0), nd * syy - sy * sy)
    den = F.sqrt(vx * vy)
    return stats.select(
        "ka",
        "kb",
        "n_buckets",
        F.when(den > 0, num / den).alias("corr"),
    )


def resample_ffill(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
    step: str = "interval 1 hour",
) -> DataFrame:
    """Resample each series onto a regular time grid with forward fill
    (last observation carried forward) — the gap-free chart series /
    feature-matrix input every downstream consumer of an irregular
    tick store asks for first.

    Per key: the last tick of each occupied bucket (ranking window),
    the per-key [min, max] bucket span exploded into a regular grid
    (``sequence`` with an interval step — grid cells per key are
    bounded by the data span, not the tick count), a left join of grid
    onto closes co-partitioned on (key, bucket), and ONE ordered
    window carrying ``last(value, ignorenulls=True)`` forward. Gaps
    are flagged. Rows ~ keys × span-buckets; every stage is a linear
    shuffle on the key (or key+bucket)."""
    h = F.date_trunc(bucket, F.col(ts_col))
    ticks = df.select(
        F.col(key_col).alias("k"),
        h.alias("h"),
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        F.col(value_col).alias("v"),
    )
    rn = F.row_number().over(
        Window.partitionBy("k", "h").orderBy(
            F.col("__ts").desc(), F.col("__id").desc()
        )
    )
    # r13: closes feeds both the grid bounds and the fill join, and
    # bounds over the closes table equal bounds over the raw ticks
    # (closes keeps exactly one row per occupied (key, bucket)), so
    # materializing closes once (key×bucket-sized) replaces the second
    # full tick scan + aggregate with a reduce over the small table.
    closes = (
        ticks.withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select("k", "h", "v")
        .localCheckpoint(eager=False)
    )
    bounds = closes.groupBy("k").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = bounds.select(
        "k",
        F.explode(F.expr(f"sequence(lo, hi, {step})")).alias("h"),
    )
    joined = grid.join(closes, ["k", "h"], "left")
    w = (
        Window.partitionBy("k")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("k").alias(key_col),
        F.col("h").alias("bucket_ts"),
        F.round(F.last("v", ignorenulls=True).over(w), 6).alias("close_ffill"),
        F.col("v").isNull().alias("is_gap"),
    )


def ols_trend(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    origin: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Per-series least-squares trend line: slope (units/second),
    intercept (value at ``origin``), and R² of value against event
    time — the "is this metric drifting and how fast" primitive.

    Exactness contract (same discipline as :func:`pairwise_corr` /
    plans/core.q_autocorr_lag1): x = whole seconds since ``origin``
    (integer), y = value in DECIMAL(8,2); the five sufficient
    statistics n, Σx, Σy, Σxy, Σx² accumulate in DECIMAL — exact and
    summation-order-free — and slope/intercept/R² are single double
    expressions over them, bit-identical cross-engine.

    Domain contract (sizes every cast so the n·Σ cross terms stay
    inside precision 38 in BOTH engines — DuckDB hard-errors above
    38, Spark silently rounds): span from ``origin`` < 10⁸ s (~3 yr),
    |value| < 10⁶, rows per key < 10⁹.

    Scale shape: ONE map-side-combining aggregate — the shuffle
    carries k × 5 decimal partials, never rows.  Degenerate series
    (n < 2 or zero time variance) yield NULL slope/R²."""
    x = (ts_us(ts_col) - ts_us(F.lit(origin).cast("timestamp_ntz"))) / F.lit(
        1_000_000
    )
    x = F.floor(x).cast("decimal(9,0)")
    y = F.col(value_col).cast("decimal(8,2)")
    stats = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).cast("decimal(9,0)").alias("n"),
        F.sum(x).cast("decimal(17,0)").alias("sx"),
        F.sum(y).cast("decimal(16,2)").alias("sy"),
        F.sum(x * y).cast("decimal(24,2)").alias("sxy"),
        F.sum(x * x).cast("decimal(26,0)").alias("sxx"),
        F.sum(y * y).cast("decimal(22,4)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = F.when(den != 0.0, num / den)
    intercept = F.when(
        den != 0.0,
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double"),
    )
    r2 = F.when((den != 0.0) & (den_y != 0.0), num * num / (den * den_y))
    return stats.select(
        F.col("k").alias(key_col),
        F.col("n").cast("long").alias("n_obs"),
        F.round(slope, 12).alias("slope_per_s"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )


def twap(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Daily time-weighted average price: each tick holds its value
    until the next tick (the last tick holds to midnight), TWAP =
    Σ(v·Δt)/Σ(Δt) — the fill-quality benchmark VWAP cannot replace
    when volume is missing or untrusted.

    Exactness: v is DECIMAL(8,2), Δt is exact whole microseconds, and
    the Δts partition [first tick, midnight) — so Σ Δt =
    day_end − first_tick (= 86 400 000 000 only when the first tick is
    at midnight) and Σ(v·Δt) ≤ max_v·8.64·10¹⁰ — both accumulate in
    DECIMAL (products
    are width > 18, so DuckDB's int128 lane engages) and the TWAP is
    ONE double division, bit-identical cross-engine.  Same-timestamp
    ticks get Δt = 0 (zero weight) except the last by tiebreak.

    One (key, day) shuffle feeds both the lead window and the
    aggregate."""
    day = F.date_trunc("day", F.col(ts_col))
    t_us = ts_us(ts_col)
    day_end_us = ts_us(day) + F.lit(86_400_000_000)
    w = Window.partitionBy(F.col(key_col), day).orderBy(
        t_us.asc(), F.col(tiebreak_col).asc()
    )
    dt = (
        F.coalesce(F.lead(t_us, 1).over(w), day_end_us) - t_us
    ).cast("decimal(12,0)")
    v = F.col(value_col).cast("decimal(8,2)")
    rows = df.select(
        F.col(key_col).alias("k"),
        day.alias("d"),
        (v * dt).alias("vdt"),
        dt.alias("dt"),
    )
    out = rows.groupBy("k", "d").agg(
        F.sum("vdt").cast("decimal(22,2)").alias("svdt"),
        F.sum("dt").cast("decimal(14,0)").alias("sdt"),
    )
    return out.select(
        F.col("k").alias(key_col),
        F.col("d").alias("day"),
        F.round(
            F.col("svdt").cast("double") / F.col("sdt").cast("double"), 6
        ).alias("twap"),
    )


def daily_returns(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Daily close-to-close simple returns per series: close = the
    value of the last (ts, id)-ordered tick per (key, day) via
    ``max_by`` over the total-order struct, return =
    close/lag(close) − 1 (NULL on each key's first day).

    Determinism: closes are raw stored doubles (no arithmetic), the
    return is ONE double division, and the return is additionally
    emitted TRUNCATED to the 10⁻⁹ grid as DECIMAL(13,9) (``ret_d``) so
    downstream sufficient-statistic aggregates (:func:`sharpe_ratio`,
    :func:`beta_vs_benchmark`) accumulate exactly, free of
    double-summation order.  The grid fix is floor(ret·10⁹)/10⁹ — one
    IEEE multiply + floor, bit-identical cross-engine — NOT round():
    when x·10⁹ lands within an ulp of a half-integer, DuckDB's
    multiply-based round and Spark's exact-expansion round disagree
    (observed at sf0.01: 31.4400035905 → …590 vs …591).

    One shuffle: the (key, day) groupBy and the per-key lag window
    share the key partitioning."""
    day = F.date_trunc("day", F.col(ts_col))
    close = df.groupBy(
        F.col(key_col).alias("k"), day.alias("d")
    ).agg(
        F.max_by(
            F.col(value_col), F.struct(F.col(ts_col), F.col(id_col))
        ).alias("close")
    )
    w = Window.partitionBy("k").orderBy(F.col("d").asc())
    prev = F.lag("close", 1).over(w)
    # zero previous close → undefined return (NULL), not ±Infinity
    # (which would error the ANSI cast to the decimal grid)
    ret = F.when(prev != 0.0, F.col("close") / prev - 1.0)
    # grid-domain guard: DECIMAL(13,9) holds |r| ≤ 9999.999999999, so a
    # ≥10⁶%-in-a-day move (degenerate ticks, not markets — found by the
    # 10 M-row scale probe, where it ANSI-errored the whole job) must
    # NULL out, not crash.  The abs pre-guard keeps the ANSI floor→long
    # in range; the floor-value BETWEEN is the cross-engine condition
    # (DuckDB floors to double and applies the identical bound).
    ret_small = F.when(F.abs(ret) < F.lit(10000.0), ret)
    fxf = F.floor(ret_small * F.lit(1e9))
    ret_fx = (
        F.when(fxf.between(-9_999_999_999_999, 9_999_999_999_999), fxf)
        / F.lit(1e9)
    )
    return close.select(
        "k",
        "d",
        "close",
        ret.alias("ret"),
        ret_fx.cast("decimal(13,9)").alias("ret_d"),
    )


def sharpe_ratio(
    returns: DataFrame,
    key_col: str = "k",
    ret_col: str = "ret_d",
    periods_per_year: int = 252,
) -> DataFrame:
    """Annualized Sharpe ratio per series from a :func:`daily_returns`
    frame: mean(ret)/stddev_samp(ret) · √periods, rate-free form.

    The three sufficient statistics accumulate in INTEGER FIXED-POINT
    (r·10⁹ as exact longs; the square sums as integer-valued
    DECIMAL(37,0) so the int128 lane engages).  s1 stays below 2⁶³ by
    domain, so its long→double conversion is correctly rounded on both
    engines and mean_ret is emitted UNROUNDED.  The square sum s2 is
    NOT so bounded (one 300 %+ day, or ~100 days of 30 % moves, pushes
    Σ(r·10⁹)² past 2⁶³), and in that regime DuckDB's int128→double
    conversion can sit one ulp off Spark's correctly-rounded
    BigDecimal→double — so vol and sharpe, which inherit s2 through
    the variance, are ROUNDED to 6 dp exactly like beta/alpha in
    :func:`beta_vs_benchmark` (safe post-grid-fix: the structural
    half-way cases are gone).  The 10⁻⁹ grid scale cancels inside the
    Sharpe; mean/vol rescale by one final multiply.  Keys with n < 2
    or zero variance yield NULL."""
    # ret_d is integer-valued at scale 9 ⇒ ·10⁹ then cast long is exact
    rfx = (
        (F.col(ret_col).cast("decimal(22,9)") * F.lit(1_000_000_000))
        .cast("long")
    )
    stats = (
        returns.filter(F.col(ret_col).isNotNull())
        .select(F.col(key_col), rfx.alias("rfx"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rfx").alias("s1"),
            F.sum(
                F.col("rfx").cast("decimal(18,0)")
                * F.col("rfx").cast("decimal(18,0)")
            ).alias("s2"),
        )
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean_fx = s1 / n
    # var_fx must be NULL (not a raw /(n-1) division) for n == 1: the
    # expression appears inside when() CONDITIONS below, which are
    # evaluated eagerly, so an unguarded n-1 divisor is an ANSI
    # DIVIDE_BY_ZERO job-killer on any key with exactly one return
    # (found by the grid-lane property test, r7)
    var_fx = F.when(
        F.col("n") > 1, (s2 - s1 * s1 / n) / (n - 1.0)
    )
    sharpe = F.when(
        (F.col("n") > 1) & (var_fx > 0.0),
        mean_fx / F.sqrt(var_fx) * F.sqrt(F.lit(float(periods_per_year))),
    )
    return stats.select(
        F.col(key_col),
        F.col("n").alias("n_days"),
        (mean_fx * F.lit(1e-9)).alias("mean_ret"),
        # var >= 0 guard: s1²/n can exceed s2 by an ulp on constant
        # series — Spark sqrt would give NaN where DuckDB hard-errors,
        # so both twins guard the sign
        F.round(
            F.when((F.col("n") > 1) & (var_fx >= 0.0), F.sqrt(var_fx))
            * F.lit(1e-9),
            6,
        ).alias("vol"),
        F.round(sharpe, 6).alias("sharpe"),
    )


def beta_vs_benchmark(
    returns: DataFrame,
    key_col: str = "k",
    day_col: str = "d",
    ret_col: str = "ret_d",
) -> DataFrame:
    """CAPM-style beta (and alpha per period) of every series against
    the EQUAL-WEIGHT cross-sectional benchmark: the market return for a
    day is the mean of all series' returns that day, and
    beta_j = cov(r_j, r_m)/var(r_m) from one OLS sufficient-statistic
    pass.

    Exactness: per-day market means are one double division of an
    exact DECIMAL sum by a count, floor-truncated to 10⁹-scaled
    INTEGER fixed-point (round() is engine-divergent at half-way
    perceptions, and fractional decimal→double conversions are
    off-by-an-ulp across engines — see daily_returns/sharpe_ratio);
    all five sufficient statistics (n, Σx, Σy, Σxx, Σxy) accumulate as
    exact integers (squares in integer-valued DECIMAL(37,0)), so every
    downstream double is a deterministic IEEE chain, emitted
    UNROUNDED.  The fixed-point scale cancels inside beta; alpha
    rescales by one final multiply.

    Scale shape: day-level benchmark table is tiny (one row per day)
    and broadcast back onto the returns; the per-key stats aggregate
    is map-side-combining — two shuffles total (day agg + key agg),
    rows cross each exactly once."""
    r = F.col(ret_col)
    day_mean = (
        F.sum(r).cast("decimal(24,9)").cast("double")
        / F.count(F.lit(1)).cast("double")
    )
    per_day = returns.filter(r.isNotNull()).groupBy(day_col).agg(
        F.floor(day_mean * F.lit(1e9)).cast("long").alias("xfx")
    )
    yfx = (
        (r.cast("decimal(22,9)") * F.lit(1_000_000_000)).cast("long")
    )
    joined = (
        returns.filter(r.isNotNull())
        .select(F.col(key_col), F.col(day_col), yfx.alias("yfx"))
        .join(F.broadcast(per_day), on=day_col)
    )
    d18 = lambda c: F.col(c).cast("decimal(18,0)")  # noqa: E731
    stats = joined.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xfx").alias("sx"),
        F.sum("yfx").alias("sy"),
        F.sum(d18("xfx") * d18("xfx")).alias("sxx"),
        F.sum(d18("xfx") * d18("yfx")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    den = n * sxx - sx * sx
    beta = F.when(den != 0.0, (n * sxy - sx * sy) / den)
    alpha = F.when(den != 0.0, (sy - beta * sx) / n * F.lit(1e-9))
    # the square sums exceed 2^63, where DuckDB's int128→double
    # conversion can sit one ulp off Spark's correctly-rounded one —
    # beta/alpha are therefore rounded (the structural half-way cases
    # are already gone thanks to the grid fixes, so round() is safe
    # here in a way it was not for mean_ret)
    return stats.select(
        F.col(key_col),
        F.col("n").alias("n_days"),
        F.round(beta, 6).alias("beta"),
        F.round(alpha, 9).alias("alpha"),
    )


def rolling_market_corr(
    returns: DataFrame,
    key_col: str = "k",
    day_col: str = "d",
    ret_col: str = "ret_d",
    n: int = 20,
) -> DataFrame:
    """Trailing-window Pearson correlation of each series' daily
    return against the equal-weight cross-sectional market return —
    the time-VARYING sibling of :func:`beta_vs_benchmark` (a regime
    monitor: correlation regimes shift; the static beta hides it).

    Exactness contract: both return lanes ride the 10⁹ integer
    fixed-point grid (see daily_returns), so ALL five windowed
    sufficient statistics are exact integer sums (products as
    width-19 DECIMAL so the int128 lane engages); the correlation is
    one double expression per row, rounded to 6 dp because the square
    sums exceed 2⁶³ where int128→double conversion may sit one ulp
    apart across engines.  Windows with fewer than ``n`` observations
    or degenerate variance yield NULL.

    Scale shape: the day-keyed market table broadcasts; ONE
    (key)-sorted window pass computes all five trailing sums."""
    r = F.col(ret_col)
    day_mean = (
        F.sum(r).cast("decimal(24,9)").cast("double")
        / F.count(F.lit(1)).cast("double")
    )
    per_day = returns.filter(r.isNotNull()).groupBy(day_col).agg(
        F.floor(day_mean * F.lit(1e9)).cast("long").alias("xfx")
    )
    yfx = (r.cast("decimal(22,9)") * F.lit(1_000_000_000)).cast("long")
    joined = (
        returns.filter(r.isNotNull())
        .select(F.col(key_col), F.col(day_col), yfx.alias("yfx"))
        .join(F.broadcast(per_day), on=day_col)
    )
    ow = Window.partitionBy(key_col).orderBy(F.col(day_col).asc())
    w = ow.rowsBetween(-(n - 1), 0)
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    scored = joined.select(
        F.col(key_col),
        F.col(day_col),
        F.row_number().over(ow).alias("__rn"),
        F.sum("xfx").over(w).cast("double").alias("sx"),
        F.sum("yfx").over(w).cast("double").alias("sy"),
        F.sum(d19("xfx") * d19("xfx")).over(w).cast("double").alias("sxx"),
        F.sum(d19("yfx") * d19("yfx")).over(w).cast("double").alias("syy"),
        F.sum(d19("xfx") * d19("yfx")).over(w).cast("double").alias("sxy"),
    )
    nd = F.lit(float(n))
    varx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = nd * F.col("syy") - F.col("sy") * F.col("sy")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.when(
        (F.col("__rn") >= n) & (varx > 0.0) & (vary > 0.0),
        num / F.sqrt(varx * vary),
    )
    return scored.select(
        F.col(key_col),
        F.col(day_col),
        F.round(corr, 6).alias("roll_corr"),
    )


def var_cvar(
    returns: DataFrame,
    key_col: str = "k",
    day_col: str = "d",
    ret_col: str = "ret_d",
    alpha: float = 0.05,
) -> DataFrame:
    """Historical Value-at-Risk and Conditional VaR (expected
    shortfall) per series from a :func:`daily_returns` frame — the
    left-tail risk readout beside :func:`sharpe_ratio`'s central one
    (reference analytics stop at mean/extrema stats; VaR is the next
    question any holder of those series asks).

    Discrete, interpolation-free definitions (exact on both engines):
    with n non-null returns per key and the tail size
    k = ceil(alpha·n) ≥ 1, ``var_a`` is the k-th SMALLEST return and
    ``cvar_a`` the mean of those k.  ``alpha·n`` is the raw IEEE
    double product, NOT rational arithmetic — e.g. alpha=0.10, n=60
    gives ceil(6.000000000000001) = 7, one more tail row than the
    mathematical ceil(αn) at many (alpha, n) pairs.  This is
    deliberate: the identical product is what the DuckDB oracle
    computes (it CASTs alpha to DOUBLE for exactly this reason), so
    cross-engine parity holds; callers needing the textbook k should
    pass alpha as an exactly-representable double (e.g. 0.0625) or
    pre-compute k themselves.  Both ride the 10⁻⁹ integer
    fixed-point grid (see daily_returns): the order statistic is a
    stored grid value re-expressed as ONE exact-operand double
    division, and the CVaR is an exact long sum divided once.  Ties at
    the cut are broken by day for row_number, but both outputs are
    tie-invariant (equal values either side contribute identically).

    Scale shape: ONE shuffle on the key — the rank window, the count
    window and the final aggregate all share the key partitioning;
    the k-row tail never leaves its partition."""
    rfx = (
        (F.col(ret_col).cast("decimal(22,9)") * F.lit(1_000_000_000))
        .cast("long")
    )
    r = returns.filter(F.col(ret_col).isNotNull()).select(
        F.col(key_col).alias("k"),
        F.col(day_col).alias("d"),
        rfx.alias("rfx"),
    )
    ow = Window.partitionBy("k").orderBy(
        F.col("rfx").asc(), F.col("d").asc()
    )
    ranked = r.select(
        "k",
        "rfx",
        F.row_number().over(ow).alias("__rn"),
        F.count(F.lit(1)).over(Window.partitionBy("k")).alias("__n"),
    )
    kth = F.ceil(F.lit(alpha) * F.col("__n")).cast("int")
    tail = ranked.filter(F.col("__rn") <= kth)
    return tail.groupBy("k").agg(
        F.max("__n").alias("n_days"),
        F.count(F.lit(1)).alias("tail_n"),
        (F.max("rfx").cast("double") / F.lit(1e9)).alias("var_a"),
        (
            F.sum("rfx").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
        ).alias("cvar_a"),
    )
