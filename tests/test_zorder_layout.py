"""Z-order layout (operators/layout.py): Morton-curve correctness vs a
pure-Python bit-interleave, and the data-skipping payoff — a 2-D box
predicate must prune z-ordered files on BOTH axes where the 1-D range
baseline prunes only its own."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_insights_app_spark.operators.layout import (
    layout_stats,
    linear_assign,
    skipped_fraction,
    zorder_assign,
    zorder_value,
)


def _interleave(vals: list[int], bits: int) -> int:
    z = 0
    for i in range(bits):
        for ci, v in enumerate(vals):
            z |= ((v >> i) & 1) << (i * len(vals) + ci)
    return z


def test_zorder_value_matches_python_interleave(spark):
    # x, y already spanning [0, 2^bits - 1] so scaling is the identity
    bits = 4
    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    joined, z = zorder_value(df, ["x", "y"], bits=bits)
    got = {(r.x, r.y): r.z for r in joined.select("x", "y", z.alias("z")).collect()}
    for x, y in rows:
        assert got[(x, y)] == _interleave([x, y], bits), (x, y)


def test_zorder_value_guards(spark):
    df = spark.createDataFrame([(1, 1)], "x long, y long")
    with pytest.raises(ValueError, match="fit a long"):
        zorder_value(df, ["x", "y"], bits=32)
    # constant column + NULLs scale to 0 instead of dividing by zero
    d2 = spark.createDataFrame([(5, None), (5, 2)], "x long, y long")
    joined, z = zorder_value(d2, ["x", "y"], bits=4)
    vals = [r[0] for r in joined.select(z).collect()]
    assert all(v is not None for v in vals)


def test_zorder_skips_on_both_axes_linear_only_on_one(spark):
    """The layout payoff, measured the way a skipping layer would:
    uniform 2-D data, 32 files, a ~3 %-per-axis box.  Linear-by-x
    prunes x-boxes and nothing for y-boxes; z-order prunes BOTH well."""
    n, files = 200_000, 32
    df = (
        spark.range(n)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("x"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000)).alias("y"),
        )
    )
    box_x = {"x": (4000.0, 4300.0)}
    box_y = {"y": (4000.0, 4300.0)}
    box_xy = {**box_x, **box_y}

    lin = layout_stats(linear_assign(df, "x", files), ["x", "y"]).cache()
    zo = layout_stats(zorder_assign(df, ["x", "y"], files), ["x", "y"]).cache()

    # the baseline: perfect on its own axis, blind on the other
    assert skipped_fraction(lin, box_x) > 0.9
    assert skipped_fraction(lin, box_y) == 0.0
    # z-order: strong pruning on EITHER axis alone and better combined
    zx, zy, zxy = (
        skipped_fraction(zo, box_x),
        skipped_fraction(zo, box_y),
        skipped_fraction(zo, box_xy),
    )
    assert zx >= 0.5 and zy >= 0.5, (zx, zy)
    assert zxy >= max(zx, zy), (zx, zy, zxy)
    # correctness: no row lost by either layout
    assert lin.agg(F.sum("n_rows")).first()[0] == n
    assert zo.agg(F.sum("n_rows")).first()[0] == n


def test_zorder_files_are_disjoint_z_ranges(spark):
    """repartitionByRange on the z-value ⇒ files own disjoint z
    intervals (the property that makes stats usable at all)."""
    df = (
        spark.range(20_000)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("x"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("y"),
        )
    )
    joined, z = zorder_value(df, ["x", "y"], bits=10)
    with_file = (
        joined.withColumn("__z", z)
        .repartitionByRange(8, F.col("__z"))
        .withColumn("__file", F.spark_partition_id())
    )
    zr = (
        with_file.groupBy("__file")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in zr)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2, spans


def test_zorder_value_three_columns(spark):
    """The interleave is dimension-generic: 3 columns x 3 bits against
    the pure-Python reference (identity scaling via full-range data)."""
    bits = 3
    rows = [(x, y, w) for x in range(8) for y in range(8) for w in range(8)]
    df = spark.createDataFrame(rows, "x long, y long, w long")
    joined, z = zorder_value(df, ["x", "y", "w"], bits=bits)
    got = {
        (r.x, r.y, r.w): r.z
        for r in joined.select("x", "y", "w", z.alias("z")).collect()
    }
    for x, y, w in rows:
        assert got[(x, y, w)] == _interleave([x, y, w], bits), (x, y, w)
