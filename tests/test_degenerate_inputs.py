"""Degenerate-input robustness — the failure class the r7 grid-lane
property test exposed (ANSI DIVIDE_BY_ZERO on a single-return key):
at 100 TB, empty filter results, empty partitions, single-row groups
and constant columns are routine, and an operator that throws on them
kills the whole job.  Two sweeps:

1. EVERY registered batch query must EXECUTE (0 rows is fine, an
   exception is not) against a complete set of schema-identical EMPTY
   tables.
2. The division/variance-heavy market family must execute and emit
   NULLs (not exceptions, not ±Inf) on single-row and constant-value
   series.

The four streaming replay gates are included: the empty fixture's
0-row (schema-complete) parquet files drain as one empty availableNow
batch, so the memory sink registers and returns zero rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_insights_app_spark.plans.registry import QUERIES
from market_insights_app_spark.schemas import TESTDATA_TABLES
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """Schema-identical empty twins of every testdata table (read the
    real footer schema, write zero rows)."""
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TESTDATA_TABLES:
        (
            spark.read.parquet(f"{SF_ORACLE}/{t}.parquet")
            .limit(0)
            .write.mode("overwrite")
            .parquet(str(root / f"{t}.parquet"))
        )
    return str(root)


# Documented DATA-CONTRACT failures: these operators must fail LOUDLY
# on the listed degenerate condition — silent empty output would
# corrupt downstream semantics.  The assert pins the message so an
# accidental crash can't hide behind the contract.
CONTRACT_ERRORS = {
    # a mixture spec names source groups with fixed proportions; a
    # named group with zero rows makes the requested mix unsatisfiable
    "mixture_sample": "group named in weights has no rows",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_empty_input(name, spark, empty_sf):
    if name in CONTRACT_ERRORS:
        with pytest.raises(Exception, match=CONTRACT_ERRORS[name]):
            QUERIES[name](spark, empty_sf).collect()
        return
    rows = QUERIES[name](spark, empty_sf).collect()
    assert isinstance(rows, list)


@pytest.fixture(scope="module")
def single_row_sf(spark, tmp_path_factory):
    """One-row twins of every testdata table — the n=1 hazard class
    (zero-variance windows, n-1 divisors, k>n clustering, self-joins
    with no pair).  At 100 TB a heavily filtered shard routinely
    leaves one row per table; an operator that aborts on it kills the
    whole job."""
    root = tmp_path_factory.mktemp("single_row_sf")
    for t in TESTDATA_TABLES:
        (
            spark.read.parquet(f"{SF_ORACLE}/{t}.parquet")
            .limit(1)
            .write.mode("overwrite")
            .parquet(str(root / f"{t}.parquet"))
        )
    return str(root)


# mixture_sample's contract fires here too: a 1-row documents table
# cannot cover every group named in the mixture weights.
SINGLE_ROW_CONTRACT_ERRORS = dict(CONTRACT_ERRORS)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_single_row_input(name, spark, single_row_sf):
    if name in SINGLE_ROW_CONTRACT_ERRORS:
        with pytest.raises(
            Exception, match=SINGLE_ROW_CONTRACT_ERRORS[name]
        ):
            QUERIES[name](spark, single_row_sf).collect()
        return
    rows = QUERIES[name](spark, single_row_sf).collect()
    assert isinstance(rows, list)


@pytest.fixture(scope="module")
def dup_rows_sf(spark, tmp_path_factory):
    """Three IDENTICAL rows per table — the zero-variance hazard
    class the single-row sweep cannot reach: n > 1 so n−1 divisors
    engage, but every column is constant, so sample variances,
    correlation denominators, log-share ratios and range widths are
    all exactly zero.  Duplicate ingestion is routine at 100 TB
    (retried batches, at-least-once sinks); an operator that divides
    by a variance without a zero guard aborts the whole job here."""
    root = tmp_path_factory.mktemp("dup_rows_sf")
    for t in TESTDATA_TABLES:
        one = spark.read.parquet(f"{SF_ORACLE}/{t}.parquet").limit(1)
        (
            one.unionAll(one)
            .unionAll(one)
            .write.mode("overwrite")
            .parquet(str(root / f"{t}.parquet"))
        )
    return str(root)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_survives_duplicate_constant_input(name, spark, dup_rows_sf):
    if name in CONTRACT_ERRORS:
        with pytest.raises(Exception, match=CONTRACT_ERRORS[name]):
            QUERIES[name](spark, dup_rows_sf).collect()
        return
    rows = QUERIES[name](spark, dup_rows_sf).collect()
    assert isinstance(rows, list)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )


@pytest.fixture(scope="module")
def degenerate_events(spark):
    """Four hazard shapes in one frame: key 1 = a single row (n=1
    variance), key 2 = constant values (zero variance), key 3 = zeros
    (zero-close returns), key 4 = all-NULL values."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base, 1, 5.0)]
    rows += [
        (10 + i, base + dt.timedelta(days=i), 2, 7.0) for i in range(5)
    ]
    rows += [
        (20 + i, base + dt.timedelta(days=i), 3, 0.0) for i in range(5)
    ]
    rows += [
        (30 + i, base + dt.timedelta(days=i), 4, None) for i in range(5)
    ]
    return _mk_events(spark, rows)


def test_market_family_survives_degenerate_series(spark, degenerate_events):
    from market_insights_app_spark.operators.market import (
        beta_vs_benchmark,
        daily_returns,
        rolling_market_corr,
        sharpe_ratio,
        var_cvar,
    )

    rets = daily_returns(degenerate_events)
    got = {r["k"]: r for r in sharpe_ratio(rets).collect()}
    # key 1: single day -> no non-null return -> absent
    assert 1 not in got
    # key 2: constant closes -> returns all exactly 0 -> zero variance
    assert got[2]["vol"] == 0.0 and got[2]["sharpe"] is None
    # key 3: zero closes -> every return NULL (zero prev guard) -> absent
    assert 3 not in got
    # key 4: all-NULL values -> NULL closes -> NULL returns -> absent
    assert 4 not in got
    beta = {r["k"]: r for r in beta_vs_benchmark(rets).collect()}
    # the only market series is constant-zero returns -> den == 0 -> NULL
    assert beta[2]["beta"] is None and beta[2]["alpha"] is None
    vc = {r["k"]: r for r in var_cvar(rets).collect()}
    assert vc[2]["var_a"] == 0.0 and vc[2]["cvar_a"] == 0.0
    rc = rolling_market_corr(rets, n=3).collect()
    assert all(r["roll_corr"] is None for r in rc)  # degenerate variance


def test_moments_and_outliers_survive_single_row(spark):
    import datetime as dt

    from market_insights_app_spark.operators.market import moments
    from market_insights_app_spark.operators.profiling import robust_outliers
    from market_insights_app_spark.operators.sketches import (
        robust_outliers_approx,
    )

    one = _mk_events(spark, [(1, dt.datetime(2024, 1, 1), 1, 5.0)])
    m = moments(one).collect()
    assert len(m) == 1
    ev = one.withColumn("event_type", F.lit("click"))
    for fn in (robust_outliers, robust_outliers_approx):
        r = fn(ev, "event_type", "value").collect()[0]
        assert r["n"] == 1 and r["n_outliers"] == 0
