"""Property-based tests (hypothesis) — the testing dimension the
reference lacks entirely (SURVEY §5 'Absent'). Each property drives a
Spark plan against a pure-Python model on randomized inputs."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,  # Spark jobs are expensive; a dozen cases is plenty
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)

trade = st.tuples(
    st.sampled_from(["Long", "Short"]),
    finite,  # entry
    st.one_of(st.none(), finite),  # stop
    st.one_of(st.none(), finite),  # exit
    st.floats(min_value=0, max_value=1e4, allow_nan=False),  # qty
    st.floats(min_value=0, max_value=100, allow_nan=False),  # fees
)


def py_pnl(direction, entry, stop, exit, qty, fees):
    e = entry or 0.0
    x = exit or 0.0
    per_unit = (x - e) if direction == "Long" else (e - x)
    return per_unit * qty - fees


def py_r(p, entry, stop, qty):
    e = entry or 0.0
    s = stop or 0.0
    denom = abs(e - s) * abs(qty)
    return p / denom if denom != 0 else 0.0


@settings(**SETTINGS)
@given(st.lists(trade, min_size=1, max_size=20))
def test_pnl_r_match_python_model(spark, trades):
    """F7/F8 column expressions == the main.js:901-916 model on
    arbitrary inputs (incl. nulls and zero-risk guards)."""
    from market_insights_app_spark.functions.scalars import pnl, r_multiple

    rows = [(i, d, e, s, x, q, f) for i, (d, e, s, x, q, f) in enumerate(trades)]
    df = spark.createDataFrame(
        rows,
        "id long, direction string, entry double, stop double, exit double, "
        "qty double, fees double",
    )
    out = df.select(
        "id",
        pnl("direction", "entry", "exit", "qty", "fees").alias("p"),
    )
    out = out.join(df, "id").select(
        "id", "p", r_multiple("p", "entry", "stop", "qty").alias("r")
    )
    got = {r["id"]: (r["p"], r["r"]) for r in out.collect()}
    for i, (d, e, s, x, q, f) in enumerate(trades):
        p = py_pnl(d, e, s, x, q, f)
        assert got[i][0] == pytest.approx(p, rel=1e-9, abs=1e-9)
        assert got[i][1] == pytest.approx(py_r(p, e, s, q), rel=1e-9, abs=1e-9)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)), min_size=1, max_size=60
    ),
    st.integers(1, 7),
)
def test_keyset_pagination_covers_everything(spark, rows, limit):
    """Walking keyset pages must enumerate every row exactly once, in
    the same global order as one big sorted read."""
    from market_insights_app_spark.operators.pagination import keyset_page

    data = [(i, ts) for i, (ts, _) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, ts long")
    want = [
        (r["ts"], r["id"])
        for r in df.orderBy(F.col("ts").desc(), F.col("id").desc()).collect()
    ]
    got, after = [], (None, None)
    for _ in range(len(data) + 2):
        page = keyset_page(df, "ts", "id", limit, after_ts=after[0], after_id=after[1]).collect()
        if not page:
            break
        got.extend((r["ts"], r["id"]) for r in page)
        after = (page[-1]["ts"], page[-1]["id"])
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.text(alphabet="ab cd\n\t", max_size=30), min_size=1, max_size=10))
def test_token_count_matches_python(spark, texts):
    from market_insights_app_spark.functions.text import token_count

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {r["id"]: r["n"] for r in df.select("id", token_count("text").alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(t.split()), repr(t)


@settings(**SETTINGS)
@given(
    st.lists(finite, min_size=2, max_size=40),
    st.integers(2, 8),
)
def test_sma_matches_python(spark, values, n):
    """W1 trailing mean with warm-up == the main.js:217-227 loop."""
    from market_insights_app_spark.operators.windows import series_window, sma

    df = spark.createDataFrame(
        [(i, 0, float(v)) for i, v in enumerate(values)], "id long, k int, v double"
    )
    w = series_window(["k"], "id")
    out = {r["id"]: r["s"] for r in df.select("id", sma("v", w, n).alias("s")).collect()}
    for i, v in enumerate(values):
        if i < n - 1:
            assert out[i] is None
        else:
            expect = sum(values[i - n + 1 : i + 1]) / n
            assert out[i] == pytest.approx(expect, rel=1e-9, abs=1e-6)


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 3), finite), min_size=1, max_size=40))
def test_latest_per_key_matches_python(spark, rows):
    from market_insights_app_spark.operators.windows import latest_per_key

    data = [(i, k, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, k int, v double")
    got = {r["k"]: r["id"] for r in latest_per_key(df, ["k"], "id").collect()}
    expect = {}
    for i, (k, _) in enumerate(rows):
        expect[k] = i  # highest id wins
    assert got == expect


@settings(**SETTINGS)
@given(st.lists(st.tuples(st.sampled_from("abc"), st.integers(0, 50), finite), min_size=1, max_size=40))
def test_asof_join_matches_python(spark, rows):
    """For every left row, the as-of join must pick the newest right
    row with ts <= left ts on the same key — vs a brute-force model."""
    from market_insights_app_spark.operators.joins import asof_join

    rights = [(k, t, v) for k, t, v in rows]
    lefts = [(i, k, t + 1) for i, (k, t, _) in enumerate(rows[: len(rows) // 2 + 1])]
    rdf = spark.createDataFrame(rights, "k string, t long, v double")
    ldf = spark.createDataFrame(lefts, "id long, k string, t long")
    # dedupe right on (k, t): keep max v to make the model deterministic
    rdf = rdf.groupBy("k", "t").agg(F.max("v").alias("v"))
    out = {r["id"]: r["v"] for r in asof_join(ldf, rdf, "k", "t", "t", ["v"]).collect()}
    rmodel = {}
    for k, t, v in rights:
        rmodel[(k, t)] = max(v, rmodel.get((k, t), -math.inf))
    for i, k, t in lefts:
        cands = [(rt, rv) for (rk, rt), rv in rmodel.items() if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        if expect is None:
            assert out[i] is None
        else:
            assert out[i] == pytest.approx(expect, rel=1e-12)


_url_part = st.text(
    alphabet="abcdefgXYZ0129-._", min_size=0, max_size=8
)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["http", "HTTPS", "ftp"]),
            st.sampled_from(
                ["WWW.Ex.COM", "a.b.co.uk", "Host", "x.y.z.com:8080", "h:443", "h:80"]
            ),
            st.sampled_from(["", "/", "/p", "/p/", "/a/b/"]),
            st.sampled_from(
                ["", "?utm_source=1", "?a=1&utm_x=2&b=3", "?fbclid=9", "?a=1"]
            ),
            st.sampled_from(["", "#frag"]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_normalize_url_idempotent(spark, parts):
    """Canonicalization must be a projection: applying it twice equals
    applying it once, for any combination of the messy features."""
    from market_insights_app_spark.functions.urls import normalize_url

    urls = [(f"{s}://{h}{p}{q}{f}",) for s, h, p, q, f in parts]
    df = spark.createDataFrame(urls, ["u"])
    rows = df.select(
        normalize_url("u").alias("once"),
        normalize_url(normalize_url("u")).alias("twice"),
    ).collect()
    for r in rows:
        assert r["once"] == r["twice"], r


# --- span_dedup vs a transparent Python model ------------------------------


def py_span_dedup(texts, L):
    """Brute-force reference: global first-occurrence L-grams, interval
    union per doc, covered tokens removed."""
    seen = {}
    dup_starts = {i: [] for i in range(len(texts))}
    for i, text in enumerate(texts):
        toks = text.split(" ")
        for p in range(max(len(toks) - L + 1, 0)):
            g = tuple(toks[p : p + L])
            if g in seen:
                dup_starts[i].append(p)
            else:
                seen[g] = (i, p)
    out = {}
    for i, text in enumerate(texts):
        toks = text.split(" ")
        covered = [False] * len(toks)
        for s in dup_starts[i]:
            for j in range(s, min(s + L, len(toks))):
                covered[j] = True
        kept = [t for t, c in zip(toks, covered) if not c]
        out[i + 1] = (len(toks), sum(covered), " ".join(kept))
    return out


doc_text = st.lists(
    st.sampled_from(list("abc")), min_size=1, max_size=12
).map(" ".join)


@settings(**SETTINGS)
@given(st.lists(doc_text, min_size=1, max_size=8), st.integers(2, 4))
def test_span_dedup_matches_python_model(spark, texts, L):
    from market_insights_app_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(list(enumerate(texts, 1)), ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.text_dedup)
        for r in span_dedup(df, span_tokens=L).collect()
    }
    assert got == py_span_dedup(texts, L)


tick = st.tuples(
    st.integers(1, 6),                     # key
    st.integers(0, 5),                     # hour offset
    st.floats(min_value=-1000, max_value=1000, allow_nan=False).map(
        lambda v: round(v, 2)
    ),
)


@settings(**SETTINGS)
@given(st.lists(tick, min_size=2, max_size=40))
def test_pairwise_corr_lanes_agree(spark, ticks):
    """The decimal join lane and the BLAS Gram lane must be
    bit-identical on arbitrary tick sets (blocks, swaps, shared-bucket
    masks, descaling)."""
    import datetime as dt

    from market_insights_app_spark.operators.market import (
        pairwise_corr,
        pairwise_corr_dense,
    )

    rows = [
        (k, dt.datetime(2024, 1, 1, 6 + h), i, v, 0)
        for i, (k, h, v) in enumerate(ticks)
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "value", "vol"]
    )
    def canon(rows):
        # NaN != NaN would fail the set compare even when both lanes
        # emit NaN for the same constant-series pair — map to a sentinel
        return {
            tuple(
                "NaN" if isinstance(v, float) and math.isnan(v) else v
                for v in r
            )
            for r in rows
        }

    a = canon(pairwise_corr(df).collect())
    b = canon(pairwise_corr_dense(df, n_blocks=3).collect())
    assert a == b


# ---------------------------------------------------------------------------
# snapshot_diff vs a pure-Python dict diff
# ---------------------------------------------------------------------------

snap_row = st.tuples(
    st.integers(min_value=0, max_value=15),               # key
    st.one_of(st.none(), st.integers(0, 3)),              # value a
    st.one_of(st.none(), st.sampled_from(["x", "y"])),    # value b
)


def py_diff(old_rows, new_rows):
    old = {k: (a, b) for k, a, b in old_rows}
    new = {k: (a, b) for k, a, b in new_rows}
    out = {}
    for k in old.keys() | new.keys():
        if k not in old:
            out[k] = "added"
        elif k not in new:
            out[k] = "removed"
        elif old[k] != new[k]:          # Python tuple equality is null-safe
            out[k] = "changed"
        else:
            out[k] = "unchanged"
    return out


@settings(**SETTINGS)
@given(st.lists(snap_row, max_size=14, unique_by=lambda r: r[0]),
       st.lists(snap_row, max_size=14, unique_by=lambda r: r[0]))
def test_snapshot_diff_matches_python_model(spark, old_rows, new_rows):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from market_insights_app_spark.operators.reconcile import snapshot_diff

    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("a", IntegerType()),
            StructField("b", StringType()),
        ]
    )
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(
            old, new, ["k"], ["a", "b"], include_unchanged=True
        ).collect()
    }
    assert got == py_diff(old_rows, new_rows)


# ---------------------------------------------------------------------------
# weighted_sample vs an exact Python replica of the A-Res ranking
# ---------------------------------------------------------------------------


def py_weighted_sample(rows, k, salt="wsample-v1"):
    import hashlib
    import math as m

    keyed = []
    for rid, w in rows:
        if w is None or w <= 0:
            continue
        h = hashlib.md5(f"{salt}:{rid}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 1) / 4294967296.0
        keyed.append((round(m.log(u) / w, 9), rid))
    # top-k by key desc, ties by ascending id
    keyed.sort(key=lambda t: (-t[0], t[1]))
    return [rid for _, rid in keyed[:k]]


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-5, max_value=1e4,
                    allow_nan=False, allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda r: r[0],
    ),
    st.integers(min_value=1, max_value=10),
)
def test_weighted_sample_matches_python_model(spark, rows, k):
    from market_insights_app_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(rows, schema="doc_id long, w double")
    got = [
        r["doc_id"]
        for r in weighted_sample(df, k, "w").orderBy(
            F.col("sample_key").desc(), F.col("doc_id").asc()
        ).collect()
    ]
    assert got == py_weighted_sample(rows, k)


# ---------------------------------------------------------------------------
# var_cvar vs a pure-Python order-statistic model
# ---------------------------------------------------------------------------

ret_grid = st.integers(min_value=-900_000_000, max_value=900_000_000)


@given(
    rets=st.lists(ret_grid, min_size=1, max_size=40),
    alpha=st.sampled_from([0.05, 0.10, 0.25, 0.5, 1.0]),
)
@settings(**SETTINGS)
def test_var_cvar_matches_python_model(spark, rets, alpha):
    """VaR = k-th smallest grid return, CVaR = mean of the k smallest,
    k = ceil(alpha*n) under IEEE multiply — byte-identical to the
    operator's definition."""
    import datetime as dt

    from market_insights_app_spark.operators.market import var_cvar

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(days=i), fx / 1e9)
        for i, fx in enumerate(rets)
    ]
    df = spark.createDataFrame(rows, "k long, d timestamp, r double").select(
        "k", "d", F.col("r").cast("decimal(13,9)").alias("ret_d")
    )
    got = var_cvar(df, alpha=alpha).collect()[0]

    n = len(rets)
    k = math.ceil(alpha * n)
    tail = sorted(rets)[:k]
    assert got["n_days"] == n
    assert got["tail_n"] == k
    assert got["var_a"] == pytest.approx(tail[-1] / 1e9, abs=1e-12)
    assert got["cvar_a"] == pytest.approx(sum(tail) / k / 1e9, abs=1e-12)


# ---------------------------------------------------------------------------
# pmi_collocations vs a pure-Python count model
# ---------------------------------------------------------------------------


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=2, max_size=12),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_pmi_collocations_matches_python_model(spark, docs):
    from collections import Counter

    from market_insights_app_spark.operators.quality import pmi_collocations

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["w1"], r["w2"]): r
        for r in pmi_collocations(df, min_count=2, k=100).collect()
    }

    uni = Counter(t for d in docs for t in d)
    big = Counter((a, b) for d in docs for a, b in zip(d, d[1:]))
    t_big = sum(big.values())
    expect = {
        p: c for p, c in big.items() if c >= 2
    }
    assert set(got) == set(expect)
    for (w1, w2), c_xy in expect.items():
        r = got[(w1, w2)]
        assert (r["c_xy"], r["c1"], r["c2"]) == (c_xy, uni[w1], uni[w2])
        ratio = (c_xy * t_big) / (uni[w1] * uni[w2])
        assert r["pmi"] == pytest.approx(round(math.log(ratio), 6), abs=1e-6)


# ---------------------------------------------------------------------------
# ngram_novelty vs a pure-Python set model
# ---------------------------------------------------------------------------


@given(
    train=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=10),
        min_size=1,
        max_size=8,
    ),
    ref=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=10),
        min_size=1,
        max_size=4,
    ),
)
@settings(**SETTINGS)
def test_ngram_novelty_matches_python_model(spark, train, ref):
    from market_insights_app_spark.operators.quality import ngram_novelty

    n = 2  # bigram shingles
    tdf = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(train)], ["doc_id", "text"]
    )
    rdf = spark.createDataFrame(
        [(100 + i, " ".join(t)) for i, t in enumerate(ref)],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r for r in ngram_novelty(tdf, rdf, shingle_n=n).collect()
    }

    grams = lambda toks: {  # noqa: E731
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    }
    ref_set = set().union(*(grams(t) for t in ref)) if ref else set()
    for i, toks in enumerate(train):
        g = grams(toks)
        if not g:
            assert i not in got  # too short -> no row
            continue
        novel = g - ref_set
        r = got[i]
        assert (r["n_grams"], r["n_novel"]) == (len(g), len(novel))
        assert r["novelty"] == pytest.approx(len(novel) / len(g))


# ---------------------------------------------------------------------------
# daily_returns -> sharpe_ratio / beta_vs_benchmark: the 10^-9 integer
# fixed-point grid lane vs a pure-Python model (verdict r6 task: the
# grid guards were pinned only by golden tests).  Closes deliberately
# include 0.0 (the ±Infinity guard), huge/tiny values (ratios past the
# DECIMAL(13,9) grid domain -> NULL) and ordinary magnitudes.
# ---------------------------------------------------------------------------

close_val = st.one_of(
    st.floats(min_value=1e-2, max_value=1e4, allow_nan=False, allow_infinity=False),
    st.just(0.0),
    st.floats(min_value=1e8, max_value=1e12, allow_nan=False, allow_infinity=False),
    st.floats(min_value=1e-12, max_value=1e-8, allow_nan=False, allow_infinity=False),
)


def _py_grid_fx(closes):
    """Per-day 10^9-grid fixed-point returns (None where the operator
    emits NULL): mirrors daily_returns' zero-prev and grid-domain
    guards bit for bit."""
    out, prev = [], None
    for c in closes:
        fx = None
        if prev is not None and prev != 0.0:
            r = c / prev - 1.0
            if abs(r) < 10000.0:
                f = math.floor(r * 1e9)
                if -9_999_999_999_999 <= f <= 9_999_999_999_999:
                    fx = int(f)
        out.append(fx)
        prev = c
    return out


@given(
    walks=st.lists(
        st.lists(close_val, min_size=1, max_size=10),
        min_size=1,
        max_size=3,
    )
)
@settings(**SETTINGS)
def test_sharpe_beta_grid_lane_matches_python_model(spark, walks):
    import datetime as dt

    from market_insights_app_spark.operators.market import (
        beta_vs_benchmark,
        daily_returns,
        sharpe_ratio,
    )

    rows = [
        (k, dt.datetime(2024, 1, 1) + dt.timedelta(days=i), i * 10 + k, c)
        for k, closes in enumerate(walks)
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    rets = daily_returns(df)
    got_s = {r["k"]: r for r in sharpe_ratio(rets).collect()}
    got_b = {r["k"]: r for r in beta_vs_benchmark(rets).collect()}

    fx_by_key = {k: _py_grid_fx(closes) for k, closes in enumerate(walks)}

    # --- sharpe model: integer sufficient stats, then the exact IEEE
    # chain of the operator ------------------------------------------------
    for k, fxs in fx_by_key.items():
        xs = [f for f in fxs if f is not None]
        if not xs:
            assert k not in got_s
            continue
        g = got_s[k]
        n = len(xs)
        s1d, s2d, nd = float(sum(xs)), float(sum(x * x for x in xs)), float(n)
        assert g["n_days"] == n
        assert g["mean_ret"] == pytest.approx(s1d / nd * 1e-9, rel=1e-12, abs=1e-18)
        if n > 1:
            var = (s2d - s1d * s1d / nd) / (nd - 1.0)
            if var >= 0.0:
                assert g["vol"] == pytest.approx(
                    math.sqrt(var) * 1e-9, abs=1.01e-6
                )
            else:
                assert g["vol"] is None
            if var > 0.0:
                assert g["sharpe"] == pytest.approx(
                    (s1d / nd) / math.sqrt(var) * math.sqrt(252.0), abs=1.01e-6
                )
            else:
                assert g["sharpe"] is None
        else:
            assert g["vol"] is None and g["sharpe"] is None

    # --- beta model: per-day equal-weight market on the same grid ---------
    from fractions import Fraction

    n_days = max(len(c) for c in walks)
    xfx = {}
    for d in range(n_days):
        day_fx = [
            fx_by_key[k][d]
            for k in fx_by_key
            if d < len(fx_by_key[k]) and fx_by_key[k][d] is not None
        ]
        if day_fx:
            # exact decimal sum -> correctly-rounded double -> /count
            # -> *1e9 -> floor: the operator's exact chain
            d1 = float(Fraction(sum(day_fx), 10**9))
            xfx[d] = int(math.floor(d1 / float(len(day_fx)) * 1e9))
    for k, fxs in fx_by_key.items():
        pairs = [
            (xfx[d], fx) for d, fx in enumerate(fxs) if fx is not None
        ]
        if not pairs:
            assert k not in got_b
            continue
        g = got_b[k]
        n = len(pairs)
        sx = sum(p[0] for p in pairs)
        sy = sum(p[1] for p in pairs)
        sxx = sum(p[0] * p[0] for p in pairs)
        sxy = sum(p[0] * p[1] for p in pairs)
        assert g["n_days"] == n
        nd = float(n)
        sxd, syd, sxxd, sxyd = float(sx), float(sy), float(sxx), float(sxy)
        den = nd * sxxd - sxd * sxd
        if den == 0.0:
            assert g["beta"] is None and g["alpha"] is None
        else:
            beta = (nd * sxyd - sxd * syd) / den
            alpha = (syd - beta * sxd) / nd * 1e-9
            assert g["beta"] == pytest.approx(beta, abs=1.01e-6)
            assert g["alpha"] == pytest.approx(alpha, abs=1.01e-9)


@given(
    walks=st.lists(
        st.lists(close_val, min_size=2, max_size=12),
        min_size=1,
        max_size=3,
    )
)
@settings(**SETTINGS)
def test_rolling_market_corr_matches_python_model(spark, walks):
    """rolling_market_corr vs the same pure-Python fixed-point model:
    five trailing integer sums over the last-n day-ordered non-null
    returns, correlation as the operator's exact IEEE chain, NULL on
    warm-up and degenerate variance."""
    import datetime as dt

    from market_insights_app_spark.operators.market import (
        daily_returns,
        rolling_market_corr,
    )

    N = 3
    rows = [
        (k, dt.datetime(2024, 1, 1) + dt.timedelta(days=i), i * 10 + k, c)
        for k, closes in enumerate(walks)
        for i, c in enumerate(closes)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {
        (r["k"], r["d"].day): r["roll_corr"]
        for r in rolling_market_corr(daily_returns(df), n=N).collect()
    }

    from fractions import Fraction

    fx_by_key = {k: _py_grid_fx(closes) for k, closes in enumerate(walks)}
    n_days = max(len(c) for c in walks)
    xfx = {}
    for d in range(n_days):
        day_fx = [
            fx_by_key[k][d]
            for k in fx_by_key
            if d < len(fx_by_key[k]) and fx_by_key[k][d] is not None
        ]
        if day_fx:
            d1 = float(Fraction(sum(day_fx), 10**9))
            xfx[d] = int(math.floor(d1 / float(len(day_fx)) * 1e9))
    for k, fxs in fx_by_key.items():
        pairs = [(d, xfx[d], fx) for d, fx in enumerate(fxs) if fx is not None]
        for i, (d, _x, _y) in enumerate(pairs):
            day = d + 1  # day-of-month of 2024-01-01 + d
            expect = None
            if i + 1 >= N:
                win = pairs[i + 1 - N : i + 1]
                nd = float(N)
                sx = float(sum(p[1] for p in win))
                sy = float(sum(p[2] for p in win))
                sxx = float(sum(p[1] * p[1] for p in win))
                syy = float(sum(p[2] * p[2] for p in win))
                sxy = float(sum(p[1] * p[2] for p in win))
                varx = nd * sxx - sx * sx
                vary = nd * syy - sy * sy
                if varx > 0.0 and vary > 0.0:
                    expect = (nd * sxy - sx * sy) / math.sqrt(varx * vary)
            assert (k, day) in got
            if expect is None:
                assert got[(k, day)] is None, (k, day)
            else:
                assert got[(k, day)] == pytest.approx(expect, abs=1.01e-6)


# ---------------------------------------------------------------------------
# SCD2 build + point-in-time lookup vs a pure-Python interval model
# ---------------------------------------------------------------------------

# change log: per (key, ts) one attribute observation; ts unique per
# key (same-ts tie-break ambiguity is a separate, golden-tested
# contract), small domains so no-op updates and attr NULLs are common
scd_log = st.lists(
    st.tuples(
        st.integers(0, 2),                                # key
        st.integers(0, 20),                               # ts
        st.one_of(st.none(), st.integers(0, 2)),          # attr
    ),
    min_size=1,
    max_size=20,
    unique_by=lambda r: (r[0], r[1]),
)


def py_scd2(rows):
    """(key -> [(valid_from, valid_to, attr)]) with no-op updates
    collapsed, latest interval open (valid_to None)."""
    out = {}
    for k in {r[0] for r in rows}:
        seq = sorted((ts, a) for kk, ts, a in rows if kk == k)
        opens = []
        prev = object()  # sentinel != any attr incl. None
        for ts, a in seq:
            if a != prev:
                opens.append((ts, a))
            prev = a
        out[k] = [
            (ts, opens[i + 1][0] if i + 1 < len(opens) else None, a)
            for i, (ts, a) in enumerate(opens)
        ]
    return out


@settings(**SETTINGS)
@given(scd_log, st.lists(st.tuples(st.integers(0, 2), st.integers(-1, 22)),
                         min_size=1, max_size=12))
def test_scd2_and_pit_lookup_match_python_model(spark, log_rows, fact_rows):
    from market_insights_app_spark.operators.reconcile import (
        pit_lookup,
        scd2_build,
    )

    log = spark.createDataFrame(
        log_rows, schema="k int, ts int, attr int"
    )
    dim = scd2_build(log, ["k"], "ts", ["attr"])
    model = py_scd2(log_rows)

    got = {}
    for r in dim.collect():
        got.setdefault(r["k"], []).append(
            (r["valid_from"], r["valid_to"], r["attr"])
        )
        assert r["is_current"] == (r["valid_to"] is None)
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in model.items()
    }

    facts = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(fact_rows)],
        schema="fid int, k int, fts int",
    )
    pit = {
        r["fid"]: r["pit_attr"]
        for r in pit_lookup(facts, dim, "k", "fts", ["attr"]).collect()
    }

    def py_pit(k, fts):
        best = None
        for vf, vt, a in model.get(k, []):
            if vf <= fts and (best is None or vf > best[0]):
                best = (vf, vt, a)
        if best is None:
            return None
        vf, vt, a = best
        # expired-interval post-check (coverage gap): NULL the attr
        return None if (vt is not None and vt <= fts) else a

    for i, (k, fts) in enumerate(fact_rows):
        assert pit[i] == py_pit(k, fts), (i, k, fts)


# ---------------------------------------------------------------------------
# CDC round-trip + incremental view maintenance vs direct recompute
# ---------------------------------------------------------------------------

ivm_snap = st.lists(
    st.tuples(
        st.integers(0, 25),     # key
        st.integers(0, 3),      # group
        st.integers(-50, 50),   # exact integer value (IVM contract)
    ),
    max_size=16,
    unique_by=lambda r: r[0],
)


@settings(**SETTINGS)
@given(ivm_snap, ivm_snap)
def test_cdc_roundtrip_and_ivm_match_recompute(spark, old_rows, new_rows):
    """Two laws on random snapshot pairs (adds, drops, value changes
    AND group migrations): apply_changes(old, diff(old,new)) == new,
    and base_agg + agg_delta(diff) == groupBy-recompute over new —
    including groups that appear, empty out, or swap members."""
    from market_insights_app_spark.operators.reconcile import (
        agg_delta,
        apply_changes,
        incremental_agg_update,
        snapshot_diff,
    )

    schema = "k int, g int, v long"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    diff = snapshot_diff(old, new, ["k"], ["g", "v"])
    diff.persist()
    try:
        got_new = {
            (r["k"], r["g"], r["v"])
            for r in apply_changes(old, diff, ["k"], ["g", "v"]).collect()
        }
        assert got_new == set(new_rows)

        base_agg = old.groupBy("g").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
        )
        maintained = {
            r["g"]: (r["s"], r["c"])
            for r in incremental_agg_update(
                base_agg, agg_delta(diff, "g", "v"), "g", "s", "c"
            ).collect()
        }
        expect = {}
        for _, g, v in new_rows:
            s, c = expect.get(g, (0, 0))
            expect[g] = (s + v, c + 1)
        assert maintained == expect
    finally:
        diff.unpersist()


# ---------------------------------------------------------------------------
# robust_outliers vs a pure-Python median/MAD model
# ---------------------------------------------------------------------------


def py_pct(vals, p=0.5):
    """Spark/DuckDB exact interpolated percentile (type='linear'):
    rank p·(n−1), linear between the bracketing order statistics.
    Integer inputs at p=0.5 make every step exactly representable, so
    the comparison below is exact, not approximate."""
    s = sorted(vals)
    r = p * (len(s) - 1)
    lo = int(r)
    frac = r - lo
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * frac


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-100, 100)),
        min_size=1,
        max_size=24,
    )
)
def test_robust_outliers_matches_python_model(spark, rows):
    from market_insights_app_spark.operators.profiling import robust_outliers

    df = spark.createDataFrame(rows, schema="g int, v long")
    got = {r["g"]: r for r in robust_outliers(df, "g", "v").collect()}

    for g in {g for g, _ in rows}:
        vals = [float(v) for gg, v in rows if gg == g]
        med = py_pct(vals)
        mad = py_pct([abs(v - med) for v in vals])
        n_out = sum(abs(v - med) > (3.0 * 1.4826) * mad for v in vals)
        r = got[g]
        assert r["n"] == len(vals)
        assert r["median"] == pytest.approx(med, abs=1e-6)
        assert r["mad"] == pytest.approx(mad, abs=1e-6)
        assert r["n_outliers"] == n_out
        assert r["outlier_rate"] == pytest.approx(
            n_out / len(vals), abs=1e-6
        )


# ---------------------------------------------------------------------------
# pack_greedy / global_running_sum vs a pure-Python prefix-sum model
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000),          # unique order key
            st.integers(1, 500),             # doc token length
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    st.integers(min_value=1, max_value=1024),
)
def test_pack_greedy_matches_python_model(spark, rows, target):
    """The two-level distributed prefix sum (per-partition running sum
    + broadcast partition offsets) must equal the sequential prefix
    sum for ANY partitioning, and the greedy bin assignment must obey
    the packing laws: bins are contiguous in document order, start at
    0, and every bin except possibly the last is filled past nothing
    (a doc opens a new bin only when the running total crosses a
    target boundary)."""
    from market_insights_app_spark.operators.packing import pack_greedy

    df = spark.createDataFrame(rows, schema="doc_id long, n_tokens long")
    got = {
        r["doc_id"]: r["bin"]
        for r in pack_greedy(df, "doc_id", "n_tokens", target).collect()
    }

    cum = 0
    expect = {}
    for doc_id, n in sorted(rows):
        expect[doc_id] = cum // target
        cum += n
    assert got == expect

    bins = [expect[d] for d, _ in sorted(rows)]
    assert bins[0] == 0
    assert all(b2 - b1 >= 0 for b1, b2 in zip(bins, bins[1:]))


# ---------------------------------------------------------------------------
# chunk_tokens coverage laws vs a pure-Python chunker
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(
    st.lists(
        st.integers(1, 200),                 # token counts per doc
        min_size=1,
        max_size=8,
    ),
    st.integers(2, 40),                      # chunk_size
    st.integers(0, 39),                      # overlap (< chunk_size enforced)
)
def test_chunk_tokens_matches_python_model(spark, doc_lens, chunk_size, overlap):
    """Chunking laws on random (doc length, chunk_size, overlap):
    chunks equal the Python slicer exactly (text + token counts), the
    union of chunks covers every token, and no emitted tail is fully
    contained in the previous chunk (the RAG-dedup bound)."""
    if overlap >= chunk_size:
        overlap = chunk_size - 1
    from market_insights_app_spark.operators.packing import chunk_tokens

    docs = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)))
        for i, n in enumerate(doc_lens)
    ]
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["chunk_tokens"])
        for r in chunk_tokens(
            df, chunk_size=chunk_size, overlap=overlap
        ).collect()
    }

    step = chunk_size - overlap
    expect = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        n = len(toks)
        upper = max(n - chunk_size + step - 1, 0)
        starts = list(range(0, upper + 1, step))
        for idx, s in enumerate(starts):
            piece = toks[s : s + chunk_size]
            expect[(doc_id, idx)] = (" ".join(piece), len(piece))
        # coverage: the last emitted chunk must reach the document end
        last = starts[-1]
        assert last + chunk_size >= n or last + len(toks[last:last + chunk_size]) >= n
    assert got == expect


# ---------------------------------------------------------------------------
# nb_seed_classifier vs a pure-Python NB model (independent of BOTH the
# Spark plan and its DuckDB twin — guards against shared-formula bugs)
# ---------------------------------------------------------------------------

_nb_word = st.sampled_from(["apple", "banana", "cherry", "kiwi", "plum"])
_nb_text = st.lists(_nb_word, min_size=1, max_size=6).map(" ".join)


def _py_nb(corpus, seeds):
    """Laplace NB log-odds, straight from the published formula."""
    c_pos: dict[str, int] = {}
    c_neg: dict[str, int] = {}
    d_pos = d_neg = 0
    for text, pos in seeds:
        if pos:
            d_pos += 1
        else:
            d_neg += 1
        for w in text.split():
            (c_pos if pos else c_neg)[w] = (c_pos if pos else c_neg).get(w, 0) + 1
            (c_neg if pos else c_pos).setdefault(w, 0)
    n_pos, n_neg = sum(c_pos.values()), sum(c_neg.values())
    v = len(set(c_pos) | set(c_neg))
    prior = math.log((d_pos + 1) / (d_neg + 1))
    out = {}
    for i, text in corpus:
        toks = text.split()
        if not toks:
            continue
        s = prior
        for w in toks:
            s += math.log((c_pos.get(w, 0) + 1) / (n_pos + v))
            s -= math.log((c_neg.get(w, 0) + 1) / (n_neg + v))
        out[i] = (len(toks), s)
    return out


@settings(**SETTINGS)
@given(
    st.lists(st.tuples(_nb_text, st.booleans()), min_size=2, max_size=8).filter(
        lambda s: any(p for _, p in s) and any(not p for _, p in s)
    ),
    st.lists(_nb_text, min_size=1, max_size=8),
)
def test_nb_classifier_matches_python_model(spark, seeds, texts):
    from market_insights_app_spark.operators.quality import nb_seed_classifier

    corpus = list(enumerate(texts))
    sdf = spark.createDataFrame(seeds, "text string, is_positive boolean")
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.nb_score, r.keep)
           for r in nb_seed_classifier(cdf, sdf).collect()}
    want = _py_nb(corpus, seeds)
    assert set(got) == set(want)
    for i, (n, s) in want.items():
        gn, gs, gk = got[i]
        assert gn == n
        assert gs == pytest.approx(s, abs=5e-6)
        assert gk == (gs > 0)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 8),
)
def test_pagerank_matches_python_integer_model(spark, edges, iters):
    """PageRank's integer-grid iteration vs the pure-Python replica:
    exact rank_grid equality for ANY random multigraph (self-loops and
    parallel edges included — both must be normalized away) and any
    iteration count, across Spark's partitioning."""
    from market_insights_app_spark.operators.graph import pagerank
    from tests.test_graph import _ref_pagerank

    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_grid
        for r in pagerank(e, iterations=iters).collect()
    }
    assert got == _ref_pagerank(edges, iters=iters)


# --- hard_negatives vs the pure-Python IEEE-exact model (tests/cosine_models.py)

_hn_vec = st.lists(
    st.sampled_from([0.0, 1.0, -1.0, 0.5, 0.25, -0.75, 2.0]),
    min_size=3, max_size=3,
)
_hn_row = st.tuples(
    _hn_vec, st.one_of(st.none(), st.integers(min_value=0, max_value=2))
)


@settings(**SETTINGS)
@given(
    st.lists(_hn_row, min_size=0, max_size=14),
    st.lists(_hn_row, min_size=0, max_size=5),
    st.integers(min_value=1, max_value=4),
)
def test_hard_negatives_lanes_match_python_model(
    spark, monkeypatch, pool_rows, anchor_rows, k
):
    """Mining equals the Python model on randomized inputs — duplicate
    vectors (ties), zero vectors, NULL labels, empty sides — with the
    Arrow panel width forced to 2 so every example crosses panel
    boundaries."""
    import market_insights_app_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "_HN_PANEL_BLOCK", 2)
    pool = [(i, v, l) for i, (v, l) in enumerate(pool_rows)]
    anchors = [(100 + j, v, l) for j, (v, l) in enumerate(anchor_rows)]
    schema = "vec_id long, embedding array<float>, label int"
    # float32 storage: recompute the model on the float32-rounded
    # values the engines actually see
    from tests.cosine_models import f32_rows, hard_negatives

    want = hard_negatives(f32_rows(pool), f32_rows(anchors), k)
    pool_df = spark.createDataFrame(pool, schema)
    anchor_df = spark.createDataFrame(anchors, schema)
    got = sorted(
        tuple(r) for r in sim.hard_negatives(pool_df, anchor_df, k=k).collect()
    )
    assert got == want, (got, want)


# --- crawl outlink scan vs an independent stdlib-parser model ---------------

_href_url = st.builds(
    lambda scheme, host, path, q: f"{scheme}://h{host}.example{path}"
    + (f"?q={q}" if q is not None else ""),
    st.sampled_from(["http", "https"]),
    st.integers(min_value=0, max_value=9),
    st.sampled_from(["", "/", "/p1", "/a/b"]),
    st.one_of(st.none(), st.integers(min_value=0, max_value=99)),
)
_href_any = st.one_of(
    _href_url,
    st.builds(lambda u, f: f"{u}#s{f}", _href_url,
              st.integers(min_value=0, max_value=9)),  # fragment → cut
    st.sampled_from(["/rel", "../up", "//cdn.example/x",
                     "mailto:a@b.c", "javascript:void(0)", ""]),
)
_anchor = st.builds(
    lambda href, quote, pre: (
        f"<a {pre}href={quote}{href}{quote}>t</a>"
        if quote or " " not in href
        else f"<a {pre}href='{href}'>t</a>"
    ),
    _href_any,
    st.sampled_from(["'", '"', ""]),
    st.sampled_from(["", "class='c' ", "target='_b' "]),
)
# anchors a browser never renders: inside comments or script/style
# CDATA — the parser model ignores them, and the codegen lane must too
# (r11 ADVICE: phantom host-graph edges otherwise)
_ghost_anchor = st.builds(
    lambda u, kind: {
        "comment": f"<!-- <a href='{u}'>x</a> -->",
        "script": f"<script>var s=\"<a href='{u}'>x</a>\";</script>",
        "style": f"<style>/* <a href='{u}'>x</a> */</style>",
    }[kind],
    _href_url,
    st.sampled_from(["comment", "script", "style"]),
)
_page_html = st.lists(
    st.one_of(_anchor, _ghost_anchor, st.sampled_from(
        ["<p>prose text</p>", "<div>block</div>",
         "<link href='http://css.example/x'>"])),
    min_size=0, max_size=12,
).map(lambda parts: "<html><body>" + "".join(parts) + "</body></html>")


def _py_outlinks(html: str) -> list[str]:
    """Independent model of extract_outlinks: stdlib event parser pulls
    every <a href>, keeps absolute http(s), cuts at '#', dedups."""
    from html.parser import HTMLParser

    seen: list[str] = []

    class P(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag != "a":
                return
            for k, v in attrs:
                if k == "href" and v and v.lower().startswith(
                    ("http://", "https://")
                ):
                    u = v.split("#", 1)[0]
                    if u and u not in seen:
                        seen.append(u)

    p = P()
    p.feed(html)
    p.close()
    return seen


@settings(**SETTINGS)
@given(pages=st.lists(_page_html, min_size=1, max_size=4))
def test_extract_outlinks_matches_parser_model(spark, pages):
    from market_insights_app_spark.functions.html import extract_outlinks

    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(pages)], "i long, html string"
    )
    got = {
        r.i: sorted(r.links)
        for r in df.select(
            "i", extract_outlinks("html").alias("links")
        ).collect()
    }
    for i, h in enumerate(pages):
        assert got[i] == sorted(_py_outlinks(h)), h


# --- tiny-PageRank Arrow lane vs the distributed integer grid --------------

_pr_graph = st.builds(
    lambda n, picks: sorted({(a % n, b % n) for a, b in picks}),
    st.integers(min_value=2, max_value=20),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=400),
            st.integers(min_value=0, max_value=400),
        ),
        min_size=1,
        max_size=40,
    ),
)


@settings(**SETTINGS)
@given(
    edges=_pr_graph,
    iters=st.integers(min_value=1, max_value=6),
    variant=st.sampled_from(["default", "tol", "conserve"]),
)
def test_pagerank_tiny_lane_property(spark, edges, iters, variant):
    """For ANY small graph (self-loops, parallel picks, dangling
    nodes, disconnected islands) the single-Arrow-task lane is
    bit-identical to the distributed integer grid, on every variant."""
    from market_insights_app_spark.operators.graph import pagerank

    if all(a == b for a, b in edges):
        return  # self-loops only -> empty canonical edge set, n == 0
    e = spark.createDataFrame(edges, "src long, dst long")
    kw = (
        {"tol_grid": 5_000}
        if variant == "tol"
        else {"redistribute_dangling": True}
        if variant == "conserve"
        else {}
    )
    dist = {
        r.node: (r.rank_grid, r.pagerank)
        for r in pagerank(e, iterations=iters, **kw).collect()
    }
    tiny = {
        r.node: (r.rank_grid, r.pagerank)
        for r in pagerank(
            e, iterations=iters, tiny_threshold=10_000, **kw
        ).collect()
    }
    assert tiny == dist


@given(
    data=st.lists(
        st.lists(
            st.integers(min_value=-5, max_value=5), min_size=3, max_size=3
        ),
        min_size=1,
        max_size=40,
    ),
    cents=st.lists(
        st.lists(
            st.integers(min_value=-5, max_value=5), min_size=3, max_size=3
        ),
        min_size=1,
        max_size=33,
    ),
    tile=st.integers(min_value=1, max_value=40),
)
@settings(max_examples=200, deadline=None)
def test_tile_best_matches_full_argmin(data, cents, tile):
    """clustering._tile_best must equal the full-matrix argmin for ANY
    tile width, INCLUDING exact fp ties (small-integer vectors make
    ties common: identical centroids, symmetric layouts).  The tie
    rule is lowest-cluster-id — full argmin's first-min — and the
    tiled running strict-< must preserve it across tile boundaries."""
    import numpy as np

    from market_insights_app_spark.operators.clustering import _tile_best

    X = np.asarray(data, dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    cn = (C * C).sum(axis=1)
    S = X @ C.T
    S = -2.0 * S + cn[None, :]
    want_best = S.argmin(axis=1)
    want_val = S[np.arange(len(X)), want_best]
    best, bestv = _tile_best(np, X, C, cn, tile=tile)
    assert (best == want_best).all()
    assert (bestv == want_val).all()
