"""ICT composite analysis — SURVEY.md §2.10 U1 (static/main.js:336-383),
composed natively from the W1-W10 window family. No UDFs: the whole
`analyzeICT(series)` result is a multi-column transformation over the
per-key ordered window.

Per key, over the trailing ``n``-row analysis window the reference uses
(default 50, main.js:59):
- hi/lo/mid + premium-discount of the last value  (A4 + W9)
- short/long MA slopes and bias                   (W6 + W7)
- local extrema flags                             (W5)
- equal-highs/equal-lows detection on the last two local highs/lows
  within relative tolerance 5e-4                  (W8, main.js:356-360)
- impulse-leg OTE retracement zone:
  r62 = end − 0.62·(end−start), r79 = end − 0.79·(end−start),
  zone = [min, max]                               (W10, main.js:361-374)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from market_insights_app_spark.functions.scalars import ts_us
from pyspark.sql.window import Window

from market_insights_app_spark.operators import windows as W

EQ_TOL = 5e-4  # main.js:357 relative tolerance


def analyze_ict(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    value_col: str = "value",
    ma_n: int = 5,
) -> DataFrame:
    """One row per key: the analyzeICT() summary computed distributed.

    Stages (window-over-window needs staged selects, SURVEY §7.4.3):
      1. per-row: sma, local-extrema flags
      2. per-row: MA slopes from staged sma
      3. per-key aggregate: hi/lo/last/bias plus the last two local
         highs/lows (max_by over flagged rows)
      4. scalar derivation: mid/pd, equal-highs/lows, OTE zone
    """
    w = W.series_window(key_cols, ts_col, id_col)
    v = F.col(value_col)

    s1 = df.select(
        *key_cols,
        ts_col,
        id_col,
        value_col,
        W.sma(value_col, w, ma_n).alias("__sma"),
    )
    s1 = W.local_extrema_flags(s1, value_col, w)

    s2 = s1.select(
        "*",
        W.slope("__sma", w, 2).alias("__s2"),
        W.slope("__sma", w, 5).alias("__s5"),
    )

    key = F.struct(ts_col, id_col)
    last_struct = F.max_by(F.struct(F.col(value_col), F.col("__s2"), F.col("__s5")), key)

    # rank the local extrema chronologically so "the last two" become
    # rank == max and rank == max-1 (W8 needs both, main.js:356-360)
    upto = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s3 = s2.withColumn(
        "__hi_rank",
        F.sum(F.col("is_local_high").cast("int")).over(upto),
    ).withColumn(
        "__lo_rank",
        F.sum(F.col("is_local_low").cast("int")).over(upto),
    )
    # r13: the last-extremum ranks ride an unbounded window over the
    # SAME key partitioning instead of a groupBy + join-back — the old
    # shape recomputed the entire window chain a second time to feed
    # the join's aggregate side (2 full scans → 1, join gone).  Values
    # are identical: max over the whole partition == the groupBy max,
    # and a key with no extrema yields NULL either way.
    wk = Window.partitionBy(*key_cols)
    s4 = s3.withColumn(
        "nh", F.max(F.when(F.col("is_local_high"), F.col("__hi_rank"))).over(wk)
    ).withColumn(
        "nl", F.max(F.when(F.col("is_local_low"), F.col("__lo_rank"))).over(wk)
    )
    agg = s4.groupBy(*key_cols).agg(
        F.max(v).alias("hi"),
        F.min(v).alias("lo"),
        last_struct.alias("__last"),
        F.max(F.when(F.col("is_local_high") & (F.col("__hi_rank") == F.col("nh")), v)).alias("h1"),
        F.max(F.when(F.col("is_local_high") & (F.col("__hi_rank") == F.col("nh") - 1), v)).alias("h2"),
        F.max(F.when(F.col("is_local_low") & (F.col("__lo_rank") == F.col("nl")), v)).alias("l1"),
        F.max(F.when(F.col("is_local_low") & (F.col("__lo_rank") == F.col("nl") - 1), v)).alias("l2"),
        F.max(F.when(F.col("is_local_high") & (F.col("__hi_rank") == F.col("nh")), ts_us(ts_col))).alias("hk_us"),
        F.max(F.when(F.col("is_local_low") & (F.col("__lo_rank") == F.col("nl")), ts_us(ts_col))).alias("lk_us"),
    )

    last_v = F.col("__last").getField(value_col)
    s2f = F.col("__last").getField("__s2")
    s5f = F.col("__last").getField("__s5")
    mid = (F.col("hi") + F.col("lo")) / 2
    bias = W.trend_label(s2f, s5f)

    eq = lambda a, b: (  # noqa: E731  — main.js:356-360 relative tolerance
        a.isNotNull()
        & b.isNotNull()
        & (F.abs(a - b) <= F.lit(EQ_TOL) * (a + b) / 2)
    )

    # impulse leg per bias (main.js:361-374): bullish → last swing
    # low→high; bearish → high→low; chronological order decides
    # direction when neutral (later extremum is the leg end)
    leg_start = F.when(F.col("hk_us") >= F.col("lk_us"), F.col("l1")).otherwise(F.col("h1"))
    leg_end = F.when(F.col("hk_us") >= F.col("lk_us"), F.col("h1")).otherwise(F.col("l1"))
    r62 = leg_end - 0.62 * (leg_end - leg_start)
    r79 = leg_end - 0.79 * (leg_end - leg_start)

    return agg.select(
        *key_cols,
        F.col("hi"),
        F.col("lo"),
        mid.alias("mid"),
        last_v.alias("last"),
        W.premium_discount(last_v, F.col("hi"), F.col("lo")).alias("pd"),
        bias.alias("bias"),
        eq(F.col("h1"), F.col("h2")).alias("equal_highs"),
        eq(F.col("l1"), F.col("l2")).alias("equal_lows"),
        F.least(r62, r79).alias("ote_lo"),
        F.greatest(r62, r79).alias("ote_hi"),
    )
