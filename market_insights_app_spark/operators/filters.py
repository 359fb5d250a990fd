"""Dynamic conjunctive predicate builder — SURVEY.md §2.2 (P1-P7).

The reference string-builds AND-ed WHERE clauses from optional request
params (db.py:284-295 for prices, db.py:219-236 for journal, and the
client-side variant main.js:919-933). Here the same contract is a list
of Column predicates applied with chained ``filter`` — Catalyst pushes
every one of them into the parquet scan (PushedFilters), which the
reference's client path never could (it shipped the whole table to the
browser, main.js:848).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def prices_filter(
    df: DataFrame,
    *,
    symbol: str | None = None,
    start=None,
    end=None,
    symbol_col: str = "symbol",
    ts_col: str = "as_of",
) -> DataFrame:
    """P1 (db.py:271-302): optional symbol equality + inclusive time
    range. ``start``/``end`` accept anything Spark can compare with the
    timestamp column (string literal or datetime)."""
    preds: list[Column] = []
    if symbol is not None:
        preds.append(F.col(symbol_col) == F.lit(symbol))
    if start is not None:
        preds.append(F.col(ts_col) >= F.lit(start))
    if end is not None:
        preds.append(F.col(ts_col) <= F.lit(end))
    return apply_conjunction(df, preds)


def journal_filter(
    df: DataFrame,
    *,
    symbol: str | None = None,
    direction: str | None = None,
    date_from=None,
    date_to=None,
    tag: str | None = None,
    symbol_col: str = "symbol",
    date_col: str = "date",
) -> DataFrame:
    """P2+P3 (db.py:210-241, main.js:919-933): equality on upper-cased
    symbol, direction equality, lowercase substring on tags, inclusive
    date range."""
    preds: list[Column] = []
    if symbol is not None:
        preds.append(F.upper(F.col(symbol_col)) == F.lit(symbol.upper()))
    if direction is not None:
        preds.append(F.col("direction") == F.lit(direction))
    if date_from is not None:
        preds.append(F.col(date_col) >= F.lit(date_from))
    if date_to is not None:
        preds.append(F.col(date_col) <= F.lit(date_to))
    if tag is not None:
        preds.append(F.lower(F.coalesce(F.col("tags"), F.lit(""))).contains(tag.lower()))
    return apply_conjunction(df, preds)


def apply_conjunction(df: DataFrame, preds: list[Column]) -> DataFrame:
    for p in preds:
        df = df.filter(p)
    return df


def events_ts_range(df: DataFrame, start: str | None, end: str | None) -> DataFrame:
    """Inclusive time-range filter on ``ts``; both bounds reach the
    parquet scan (PushedFilters → row-group pruning). Bounds are ISO
    dates/timestamps interpreted as UTC."""
    if start is not None:
        df = df.filter(F.col("ts") >= F.lit(start))
    if end is not None:
        df = df.filter(F.col("ts") <= F.lit(end))
    return df


FX_SYMBOL_RE = r"^[A-Z]{6}$|^X[A-Z]{2}USD$"


def is_fx_symbol(col: Column | str) -> Column:
    """P6 ingest routing predicate (main.js:636, 1194)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.rlike(FX_SYMBOL_RE)
