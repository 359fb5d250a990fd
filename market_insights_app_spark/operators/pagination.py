"""Sort / limit / offset / top-K — SURVEY.md §2.6 (T1-T8).

Reference contract: ``ORDER BY <ts> DESC, id DESC LIMIT ? OFFSET ?``
with ``next_offset = offset+limit`` iff the page is full
(db.py:296-302, main.py:548). Deterministic pagination on a
distributed engine REQUIRES the total-order tiebreaker column (§7.4.1)
— here that is always an explicit id column, never an assumption about
input order.

Scale note: ``orderBy().limit(n)`` compiles to TakeOrderedAndProject —
a per-partition top-(offset+limit) followed by a single-reduce merge;
no global sort materializes. OFFSET pages deeper than a few thousand
rows should switch to keyset pagination (``keyset_page``), which stays
a pushed-down range filter at any depth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def page(
    df: DataFrame,
    order_by: list[Column],
    limit: int,
    offset: int = 0,
) -> DataFrame:
    """T1/T3: one page of a deterministic total order."""
    out = df.orderBy(*order_by)
    if offset:
        out = out.offset(offset)
    return out.limit(limit)


def next_offset(page_rows: int, limit: int, offset: int) -> int | None:
    """Pagination-cursor rule (main.py:548): advance iff page is full."""
    return offset + limit if page_rows == limit else None


def keyset_page(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    limit: int,
    after_ts=None,
    after_id=None,
) -> DataFrame:
    """Keyset (seek) pagination: WHERE (ts, id) < (after_ts, after_id)
    ORDER BY ts DESC, id DESC LIMIT n. O(limit) work per page at any
    depth — the 100 TB-safe replacement for OFFSET."""
    out = df
    if after_ts is not None:
        out = out.filter(
            (F.col(ts_col) < F.lit(after_ts))
            | ((F.col(ts_col) == F.lit(after_ts)) & (F.col(id_col) < F.lit(after_id)))
        )
    return out.orderBy(F.col(ts_col).desc(), F.col(id_col).desc()).limit(limit)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """T6 generalized: row_number over (partition by group order by ...)
    <= k. Single shuffle on the group key; AQE handles skewed groups."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )


def recent_n(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """T5: ORDER BY id DESC LIMIT n (db.py:264-268)."""
    return df.orderBy(F.col(id_col).desc()).limit(n)
