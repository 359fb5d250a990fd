"""Multi-dimensional clustering for data skipping: Z-order layout.

The storage layer's single-column answer to pruning is range
clustering (storage/txnlog.optimize: disjoint min/max per directory).
That is optimal for one key and USELESS for the second — a query on
column B touches every file of an A-ordered table.  The classic fix
(Delta/Iceberg ``OPTIMIZE ZORDER BY``) is to sort by the Morton
(Z-order) curve: interleave the bits of the rank-scaled dimensions so
files cover small HYPER-RECTANGLES of the key space instead of thin
slabs of one axis; any per-dimension box predicate then overlaps few
files, and min/max skipping works for EVERY z-ordered column at once.

Everything here is JVM-side expressions: per-column scaling uses one
broadcast 1-row min/max aggregate, bit interleaving is a fixed fan of
shift/and/or terms inside whole-stage codegen, and the layout write is
a single ``repartitionByRange`` on the z-value — the same one-shuffle
cost as the 1-D optimize.  File-level (min, max) stats per dimension —
what a table format's skipping layer consumes — come from one grouped
footer-style aggregate; :func:`skipped_fraction` prices a box
predicate against them.

At 100 TB this is the periodic re-layout pass a multi-tenant table
runs so that BOTH ``user_id`` and ``ts`` predicates (or symbol ×
date, domain × crawl-week …) prune.  Measured (1M uniform 2-D rows,
64 files, 1 %-per-axis boxes —
scripts/zorder_probe.py at commit bf32667): 1-D range layout skips
98.4 % on its own axis and 0 % on the other; Z-order skips 73.4 % /
79.7 % on each axis ALONE and 92.2 % on the 2-D box — the classic
trade of a little best-axis pruning for pruning on every z-ordered
dimension.  Layout write cost matched the 1-D pass (3.3 s
vs 4.6 s at 1M rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[DataFrame, Column]:
    """Return (df ⋈ broadcast per-column min/max, z-value Column).

    Each column is rank-scaled to an unsigned ``bits``-bit integer via
    its global min/max (one broadcast single-row aggregate — the only
    non-scan work), then the bit planes are interleaved
    column-major-by-level: z = Σ_i Σ_c ((v_c >> i) & 1) << (i·n + c).
    ``bits·len(cols)`` must fit a long (≤ 63).  Constant columns scale
    to 0 (they cannot discriminate anyway).  NULL scales to 0 — NULLs
    cluster with the minimum, the Delta convention."""
    n = len(cols)
    if not 1 <= n * bits <= 63:
        raise ValueError(f"{n} cols x {bits} bits does not fit a long")
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).cast("double").alias(f"__mn_{c}"),
            F.max(c).cast("double").alias(f"__mx_{c}"),
        ]
    ranges = df.groupBy().agg(*aggs)
    joined = df.crossJoin(F.broadcast(ranges))
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = mx - mn
        scaled = F.when(
            span > 0,
            F.floor(
                (F.col(c).cast("double") - mn) / span * F.lit(float(top))
            ),
        ).otherwise(F.lit(0)).cast("long")
        scaled = F.coalesce(scaled, F.lit(0).cast("long"))
        for i in range(bits):
            bit = F.shiftright(scaled, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + ci))
    return joined, z


def zorder_assign(
    df: DataFrame, cols: list[str], n_files: int, bits: int = 16
) -> DataFrame:
    """Assign every row to a z-order-clustered file: one
    ``repartitionByRange`` on the z-value (disjoint z-ranges per file
    by construction), file id in ``__file``.  The caller writes with
    ``partitionBy("__file")`` — same mechanics as the storage layer's
    1-D optimize, different curve.

    Stability caveat (applies to :func:`linear_assign` too):
    ``repartitionByRange`` re-samples its range boundaries per ACTION,
    so ``__file`` is only stable once materialized — derive stats
    from the WRITTEN (or checkpointed) data, never from a second
    evaluation of the same plan (every storage-layer caller
    reads stats back from the written files for exactly this reason).
    """
    joined, z = zorder_value(df, cols, bits)
    out = (
        joined.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .withColumn("__file", F.spark_partition_id())
    )
    drop = [f"__mn_{c}" for c in cols] + [f"__mx_{c}" for c in cols]
    return out.drop(*drop, "__z")


def linear_assign(df: DataFrame, col: str, n_files: int) -> DataFrame:
    """1-D range layout baseline (what txnlog.optimize produces):
    disjoint ``col`` ranges per file."""
    return df.repartitionByRange(n_files, F.col(col)).withColumn(
        "__file", F.spark_partition_id()
    )


def layout_stats(df_with_file: DataFrame, cols: list[str]) -> DataFrame:
    """Per-file (min, max) for each dimension — the skipping metadata
    a table format records per data file.  One map-side-combinable
    groupBy; output one row per file."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df_with_file.groupBy("__file").agg(
        F.count(F.lit(1)).alias("n_rows"), *aggs
    )


def skipped_fraction(
    stats: DataFrame, box: dict[str, tuple[float, float]]
) -> float:
    """Fraction of files a per-dimension box predicate SKIPS under
    min/max pruning: a file must be read iff every queried dimension's
    [min,max] overlaps the box.  (Driver-side over the stats frame —
    file counts are metadata-sized.)"""
    rows = stats.collect()
    if not rows:
        return 0.0
    read = 0
    for r in rows:
        if all(
            r[f"min_{c}"] is not None
            and r[f"max_{c}"] >= lo
            and r[f"min_{c}"] <= hi
            for c, (lo, hi) in box.items()
        ):
            read += 1
    return 1.0 - read / len(rows)
