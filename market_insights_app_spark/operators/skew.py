"""Skew mitigation — the 100 TB discipline items (SURVEY §7.4.8).

AQE's skew-join splitting handles most cases at runtime
(spark.sql.adaptive.skewJoin, on in session.py); these helpers cover
the patterns AQE cannot: skewed aggregation keys (two-stage salted
aggregation) and broadcast-unfriendly skewed joins (salt × replicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys: stage 1 aggregates on
    (key, salt) spreading one hot key over ``salt_buckets`` tasks;
    stage 2 merges partials on the key.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {sum, count, min, max}; these have associative partials so the
    two-stage merge is exact.
    """
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    stage1_exprs = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            stage1_exprs.append(F.count(F.lit(1) if col == "*" else F.col(col)).alias(out))
        else:
            stage1_exprs.append(getattr(F, fn)(F.col(col)).alias(out))
    salted = df.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(*stage1_exprs)
    merged = partial.groupBy(*key_cols).agg(
        *[
            getattr(F, merge_fn[fn])(F.col(out)).alias(out)
            for out, (_, fn) in aggs.items()
        ]
    )
    return merged


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skewed-side salting: the skewed fact table gets a random salt;
    the other side is replicated ``salt_buckets`` times (explode), so
    one hot key spreads over ``salt_buckets`` shuffle partitions. Use
    when the small side is too big to broadcast but small enough to
    replicate."""
    left = skewed.withColumn("__salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    right = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return left.join(right, on=[key, "__salt"], how=how).drop("__salt")


def key_histogram(df: DataFrame, key_cols: list[str], top: int = 20) -> DataFrame:
    """Skew diagnosis: per-key row counts, heaviest first."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc())
        .limit(top)
    )
