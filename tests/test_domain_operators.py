"""Golden-value tests for the reference-domain operators, using the
FIXTURES.md §A representative rows (themselves lifted from the
reference's seeds/tests — seed_demo.py:103-108, tests/test_db.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

UTC = dt.timezone.utc


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def txns(spark):
    rows = [
        # (id, portfolio_id, date, symbol, type, qty, price, fees)
        (1, 1, ts("2025-09-15"), "AAPL", "BUY", 10.0, 190.0, 0.0),
        (2, 1, ts("2025-09-20"), "AAPL", "SELL", 5.0, 200.0, 0.0),
        (3, 1, ts("2025-09-10"), "XAUUSD", "buy", 1.0, 2300.0, 0.0),  # case-insensitive
        (4, 1, ts("2025-09-22"), "EURUSD", "BUY", 10000.0, 1.08, 0.0),
        (5, 1, ts("2025-09-23"), "AAPL", "DIV", 0.0, 0.0, 0.0),  # ignored type
        (6, 2, ts("2025-09-23"), "MSFT", "BUY", 3.0, 400.0, 1.5),  # other portfolio
    ]
    return spark.createDataFrame(
        rows, "id long, portfolio_id long, date timestamp, symbol string, type string, qty double, price double, fees double"
    )


@pytest.fixture(scope="module")
def prices(spark):
    rows = [
        (1, "AAPL", 195.0, ts("2025-09-24T10:00:00"), "USD", "test"),
        (2, "AAPL", 196.0, ts("2025-09-24T11:00:00"), "USD", "test"),
        (3, "XAUUSD", 2350.0, ts("2025-09-24T10:00:00"), "USD", "test"),
        # EURUSD has NO price row → null last / market_value (db.py:422-423)
    ]
    return spark.createDataFrame(
        rows, "id long, symbol string, price double, as_of timestamp, currency string, source string"
    )


def test_compute_positions_golden(txns, prices):
    """db.py:399-425 semantics on the seed_demo.py:103-108 rows."""
    from market_insights_app_spark.operators.positions import compute_positions

    out = {
        r["symbol"]: r
        for r in compute_positions(txns, prices, portfolio_id=1).collect()
    }
    assert set(out) == {"AAPL", "XAUUSD", "EURUSD"}
    aapl = out["AAPL"]
    assert aapl["qty"] == 5.0  # 10 BUY - 5 SELL; DIV ignored
    assert aapl["avg_cost"] == 190.0  # cost 1900 / buys 10
    assert aapl["last"] == 196.0  # newest price (id tiebreak)
    assert aapl["market_value"] == 5.0 * 196.0
    gold = out["XAUUSD"]
    assert gold["qty"] == 1.0 and gold["avg_cost"] == 2300.0  # lowercase 'buy'
    eur = out["EURUSD"]
    assert eur["last"] is None and eur["market_value"] is None  # null propagation
    # portfolio scoping: MSFT (portfolio 2) absent
    assert "MSFT" not in out


def test_positions_no_buys_avg_cost_zero(spark, prices):
    from market_insights_app_spark.operators.positions import compute_positions

    only_sell = spark.createDataFrame(
        [(1, 1, ts("2025-09-01"), "AAPL", "SELL", 2.0, 100.0, 0.0)],
        "id long, portfolio_id long, date timestamp, symbol string, type string, qty double, price double, fees double",
    )
    row = compute_positions(only_sell, prices).collect()[0]
    assert row["qty"] == -2.0 and row["avg_cost"] == 0.0  # db.py:421 guard


@pytest.fixture(scope="module")
def journal(spark):
    rows = [
        # Long win: (110-100)*2 - 1 = 19; risk |100-95|*2=10 → r=1.9
        (1, "AAPL", ts("2025-01-01"), "Long", 2.0, 100.0, 95.0, 110.0, 1.0, "a,b", None),
        # Short loss: (100-110)*1 - 0 = -10; risk |100-105|=5 → r=-2
        (2, "AAPL", ts("2025-01-02"), "Short", 1.0, 100.0, 105.0, 110.0, 0.0, None, None),
        # stop == entry → r = 0 guard (main.js:909-916)
        (3, "EURUSD", ts("2025-01-03"), "Long", 1.0, 1.0, 1.0, 2.0, 0.0, "fx", None),
        # null exit → coerced 0: (0-100)*1 - 0 = -100
        (4, "MSFT", ts("2025-01-04"), "Long", 1.0, 100.0, 90.0, None, 0.0, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "id long, symbol string, date timestamp, direction string, qty double, "
        "entry double, stop double, exit double, fees double, tags string, notes string",
    )


def test_trade_scalars_golden(journal):
    from market_insights_app_spark.operators.journal import with_trade_scalars

    out = {r["id"]: r for r in with_trade_scalars(journal).collect()}
    assert out[1]["pnl"] == pytest.approx(19.0) and out[1]["r"] == pytest.approx(1.9)
    assert out[2]["pnl"] == pytest.approx(-10.0) and out[2]["r"] == pytest.approx(-2.0)
    assert out[3]["r"] == 0.0
    assert out[4]["pnl"] == pytest.approx(-100.0)


def test_journal_stats_and_equity(journal):
    from market_insights_app_spark.operators.journal import (
        equity_curve,
        journal_stats,
        with_trade_scalars,
    )

    t = with_trade_scalars(journal)
    s = journal_stats(t).collect()[0]
    assert s["trades"] == 4 and s["wins"] == 2 and s["winrate"] == 50.0
    assert s["total_pnl"] == pytest.approx(19 - 10 + 1 - 100)
    eq = [r["equity"] for r in equity_curve(t).orderBy("date").collect()]
    assert eq == pytest.approx([19.0, 9.0, 10.0, -90.0])  # running sum in date order


def test_journal_filter(journal):
    from market_insights_app_spark.operators.filters import journal_filter

    assert journal_filter(journal, symbol="aapl").count() == 2  # case-insensitive
    assert journal_filter(journal, direction="Short").count() == 1
    assert journal_filter(journal, tag="B").count() == 1  # lowercase substring
    assert (
        journal_filter(journal, date_from="2025-01-02", date_to="2025-01-03").count() == 2
    )


def test_union_merge_server_wins(spark):
    from market_insights_app_spark.operators.joins import union_merge

    schema = "sig string, v string"
    server = spark.createDataFrame([("k1", "server"), ("k2", "server")], schema)
    local = spark.createDataFrame([("k1", "local"), ("k3", "local")], schema)
    out = {r["sig"]: r["v"] for r in union_merge(server, local, ["sig"]).collect()}
    assert out == {"k1": "server", "k2": "server", "k3": "local"}  # main.js:853-867


def test_asof_join_semantics(spark):
    from market_insights_app_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "A", 100), (2, "A", 205), (3, "B", 50)], "id long, k string, t long"
    )
    right = spark.createDataFrame(
        [("A", 100, 1.0), ("A", 200, 2.0), ("C", 10, 9.0)], "k string, t long, px double"
    )
    out = {r["id"]: r["px"] for r in asof_join(left, right, "k", "t", "t", ["px"]).collect()}
    assert out[1] == 1.0  # equal timestamp included (backward inclusive)
    assert out[2] == 2.0  # newest prior
    assert out[3] is None  # key with no right rows → null

    # with tolerance: at t=205 the px@200 is within 10, px@100 is not
    tol = asof_join(left, right, "k", "t", "t", ["px"], tolerance=10)
    got = {r["id"]: r["px"] for r in tol.collect()}
    assert got[2] == 2.0 and got[1] == 1.0

    tol0 = asof_join(left, right, "k", "t", "t", ["px"], tolerance=3)
    got0 = {r["id"]: r["px"] for r in tol0.collect()}
    assert got0[2] is None  # 205-200=5 > 3 → dropped


def test_pagination_contract(spark):
    """tests/test_api_and_ingest.py:42-64: 3 rows, limit 2 → page1
    count=2 next_offset=2; page2 count=1 next_offset=None."""
    from market_insights_app_spark.operators.pagination import next_offset, page

    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, ts long")
    order = [F.col("ts").desc(), F.col("id").desc()]
    p1 = page(df, order, limit=2, offset=0).collect()
    assert [r["id"] for r in p1] == [3, 2]
    assert next_offset(len(p1), 2, 0) == 2
    p2 = page(df, order, limit=2, offset=2).collect()
    assert [r["id"] for r in p2] == [1]
    assert next_offset(len(p2), 2, 2) is None


def test_recent_n_golden(spark):
    """T5 (db.py:264-268): ORDER BY id DESC LIMIT n.  Golden value
    test kept per the r13 consolidation contract (the recent_n_tail
    registry row retired into ★prices_filter_range_limit)."""
    from market_insights_app_spark.operators.pagination import recent_n

    df = spark.createDataFrame(
        [(i, f"u{i % 3}") for i in (5, 1, 9, 3, 7)], "id long, user string"
    )
    rows = recent_n(df, "id", 3).collect()
    assert [r["id"] for r in rows] == [9, 7, 5]


def test_keyset_pagination_matches_offset(spark):
    from market_insights_app_spark.operators.pagination import keyset_page

    df = spark.createDataFrame([(i, i % 3) for i in range(20)], "id long, ts long")
    p1 = keyset_page(df, "ts", "id", limit=5).collect()
    p2 = keyset_page(df, "ts", "id", limit=5, after_ts=p1[-1]["ts"], after_id=p1[-1]["id"]).collect()
    ids = [r["id"] for r in p1 + p2]
    assert len(ids) == len(set(ids)) == 10  # no overlap, no gaps at boundary


def test_hash_split_deterministic_partition(spark):
    """Every row gets exactly one split; re-running (and reordering)
    gives identical assignments; proportions track the weights."""
    from market_insights_app_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(i, f"d{i}") for i in range(2000)], "doc_id long, t string")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    s2 = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(7).sortWithinPartitions("t")).collect()
    }
    assert s1 == s2  # stable under repartitioning
    from collections import Counter

    c = Counter(s1.values())
    assert set(c) == {"train", "val", "test"}
    assert abs(c["train"] / 2000 - 0.9) < 0.03
    assert abs(c["val"] / 2000 - 0.05) < 0.02
    assert abs(c["test"] / 2000 - 0.05) < 0.02


def test_deterministic_sample_is_subset_and_stable(spark):
    from market_insights_app_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame([(i,) for i in range(5000)], "doc_id long")
    a = {r["doc_id"] for r in deterministic_sample(df, 0.2).collect()}
    b = {r["doc_id"] for r in deterministic_sample(df, 0.2).collect()}
    sup = {r["doc_id"] for r in deterministic_sample(df, 0.5).collect()}
    assert a == b
    assert a <= sup  # nested fractions nest (same salt → same fraction order)
    assert abs(len(a) / 5000 - 0.2) < 0.03


def test_split_weights_validation(spark):
    import pytest

    from market_insights_app_spark.operators.sampling import split_column

    with pytest.raises(ValueError, match="sum to 1"):
        split_column("doc_id", [("a", 0.5), ("b", 0.4)])


def test_repetition_features_golden(spark):
    """Hand-computed ratios on a tiny corpus, incl. the 1-token NULL
    bigram edge and zero-token dropout."""
    from market_insights_app_spark.operators.quality import repetition_features

    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # 4 toks, 2 distinct, top 'a'=3; bigrams: "a a"x2,"a b" → top 2/3
            (2, "Spam SPAM spam"),   # case-folded: 3 toks, 1 distinct
            (3, "solo"),             # 1 token → bigram share NULL
            (4, "   "),              # zero tokens → no row
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert set(out) == {1, 2, 3}
    r1 = out[1]
    assert r1["n_tokens"] == 4
    assert r1["distinct_ratio"] == 2 / 4
    assert r1["top_token_share"] == 3 / 4
    assert r1["top_bigram_share"] == 2 / 3
    r2 = out[2]
    assert r2["distinct_ratio"] == 1 / 3 and r2["top_token_share"] == 1.0
    assert out[3]["top_bigram_share"] is None


def test_repetition_gate_drops_stuffed_docs(spark):
    from market_insights_app_spark.operators.quality import repetition_gate

    df = spark.createDataFrame(
        [
            (1, "buy now " * 40),  # top_bigram_share ~1 → dropped
            (2, "a genuinely varied sentence with many different words here"),
        ],
        "doc_id long, text string",
    )
    kept = [r["doc_id"] for r in repetition_gate(df).collect()]
    assert kept == [2]


def test_stratified_cap_deterministic_and_capped(spark):
    from market_insights_app_spark.operators.sampling import stratified_cap

    rows = [(i, "big" if i < 950 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    a = sorted(r["doc_id"] for r in stratified_cap(df, "lang", 90).collect())
    b = sorted(r["doc_id"] for r in stratified_cap(df, "lang", 90).collect())
    assert a == b  # deterministic
    kept = stratified_cap(df, "lang", 90).groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in kept}
    assert by_lang["small"] == 50  # under-cap group untouched (50 ≤ 90)
    assert abs(by_lang["big"] - 90) <= 30  # Bernoulli expectation ≈ cap


def test_mixture_sample_proportions_and_allowlist(spark):
    from market_insights_app_spark.operators.sampling import mixture_sample

    # web is abundant, books is the binding group for a 50/30/20 target
    # (600/0.3 = 2000 is the smallest avail/weight ratio), junk is unlisted
    rows = (
        [(i, "web") for i in range(4000)]
        + [(10_000 + i, "books") for i in range(600)]
        + [(20_000 + i, "code") for i in range(900)]
        + [(30_000 + i, "junk") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = mixture_sample(df, {"web": 0.5, "books": 0.3, "code": 0.2})
    by = {r["source"]: r["count"] for r in kept.groupBy("source").count().collect()}
    assert "junk" not in by  # weights are the allowlist
    assert by["books"] == 600  # binding group kept whole (rate = 1.0)
    # N = 2000 → expectations web 1000, code 400 (Bernoulli, ±4σ)
    assert abs(by["web"] - 1000) < 4 * (1000 * 0.75) ** 0.5
    assert abs(by["code"] - 400) < 4 * (400 * (1 - 400 / 900)) ** 0.5
    # deterministic: same (salt, id) decisions on rerun
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(
        r["doc_id"]
        for r in mixture_sample(df, {"web": 0.5, "books": 0.3, "code": 0.2}).collect()
    )
    assert a == b


def test_mixture_sample_raises_on_empty_weighted_group(spark):
    """A group named in weights but absent from the data makes the
    target mixture unachievable — must raise, not silently deviate."""
    from market_insights_app_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "web") for i in range(100)], "doc_id long, source string"
    )
    out = mixture_sample(df, {"web": 0.5, "books": 0.5})
    with pytest.raises(Exception, match="has no rows: books"):
        out.collect()


def test_global_running_sum_matches_single_window(spark):
    """Distributed prefix sum (range partitions + broadcast offsets)
    must equal the naive single-partition window exactly, regardless of
    input partitioning."""
    import random

    from pyspark.sql import Window

    from market_insights_app_spark.operators.packing import global_running_sum

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(3000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k long, v long").repartition(11)
    got = {
        r["k"]: r["cumsum"] for r in global_running_sum(df, "k", "v").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["k"]: r["c"]
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_pack_greedy_bins_monotone(spark):
    from market_insights_app_spark.operators.packing import pack_greedy

    df = spark.createDataFrame(
        [(i, 100) for i in range(40)], "doc_id long, n long"
    )
    out = pack_greedy(df, "doc_id", "n", target=1000).orderBy("doc_id").collect()
    bins = [r["bin"] for r in out]
    assert bins == sorted(bins)  # monotone in doc order
    assert bins[0] == 0 and bins[-1] == 3  # 40*100 / 1000 = 4 bins
    # each bin holds exactly 10 docs of 100 tokens at target 1000
    from collections import Counter

    assert Counter(bins) == {0: 10, 1: 10, 2: 10, 3: 10}


def test_pii_redaction_golden(spark):
    """Known PII strings → redacted tokens; counts match; clean text
    untouched."""
    from market_insights_app_spark.functions.pii import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org now"),
            (2, "ssn 123-45-6789 and phone +44 20 7946 0958 ok"),
            (3, "server at 192.168.1.254 responded"),
            (4, "nothing sensitive here at all"),
        ],
        "id long, t string",
    )
    c = pii_counts("t")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii("t").alias("red"),
            c["email"].alias("ne"),
            c["ssn"].alias("ns"),
            c["phone"].alias("np"),
            c["ip"].alias("ni"),
        ).collect()
    }
    assert out[1]["red"] == "mail [EMAIL] now" and out[1]["ne"] == 1
    assert out[2]["red"] == "ssn [SSN] and phone [PHONE] ok"
    # counts run on the ORIGINAL text: the SSN span also matches the
    # looser phone pattern (documented overlap); redaction order keeps
    # the redacted text unambiguous
    assert out[2]["ns"] == 1 and out[2]["np"] == 2
    assert out[3]["red"] == "server at [IP] responded" and out[3]["ni"] == 1
    assert out[4]["red"] == "nothing sensitive here at all"
    assert out[4]["ne"] == out[4]["ns"] == out[4]["np"] == out[4]["ni"] == 0


def test_salted_agg_matches_plain(spark):
    from market_insights_app_spark.operators.skew import key_histogram, salted_agg

    df = spark.createDataFrame(
        [(i % 3, float(i)) for i in range(1000)], "k long, v double"
    )
    out = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in salted_agg(
            df, ["k"], {"total": ("v", "sum"), "n": ("*", "count"), "mx": ("v", "max")}
        ).collect()
    }
    plain = {
        r["k"]: (r["total"], r["n"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    for k in plain:
        assert out[k][1] == plain[k][1] and out[k][2] == plain[k][2]
        assert out[k][0] == pytest.approx(plain[k][0], rel=1e-12)
    top = key_histogram(df, ["k"]).collect()
    assert top[0]["n"] >= top[-1]["n"]


def test_salted_join_matches_plain(spark):
    from market_insights_app_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        [(i % 2, i) for i in range(500)], "k long, fact long"
    )
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, d string")
    out = salted_join(facts, dim, "k").orderBy("fact").collect()
    plain = facts.join(dim, "k").orderBy("fact").collect()
    assert sorted([(r["k"], r["fact"], r["d"]) for r in out]) == sorted(
        [(r["k"], r["fact"], r["d"]) for r in plain]
    )


def test_range_join_matches_naive(spark):
    """Bucketized range join == the naive theta join on random-ish
    intervals, across bucket sizes (incl. intervals spanning many
    buckets and events outside every interval)."""
    import datetime as dt

    from market_insights_app_spark.operators.joins import range_join

    base = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(i, i % 3, base + dt.timedelta(minutes=7 * i)) for i in range(40)],
        "event_id long, k long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (100, 0, base, base + dt.timedelta(minutes=30)),
            (101, 0, base + dt.timedelta(minutes=200), base + dt.timedelta(minutes=300)),
            (102, 1, base + dt.timedelta(minutes=10), base + dt.timedelta(minutes=11)),
            (103, 2, base - dt.timedelta(hours=5), base + dt.timedelta(hours=10)),
        ],
        "iv_id long, k long, start timestamp, end timestamp",
    )
    naive = events.join(
        intervals,
        (events.k == intervals.k)
        & (events.ts >= intervals.start)
        & (events.ts <= intervals.end),
    ).select("event_id", "iv_id")
    want = sorted((r["event_id"], r["iv_id"]) for r in naive.collect())
    for bucket in (60, 3600, 86400):
        got = sorted(
            (r["event_id"], r["iv_id"])
            for r in range_join(events, intervals, "k", "ts", "start", "end", bucket).collect()
        )
        assert got == want, f"bucket={bucket}"


def test_continuous_rollup_answers_match_direct(spark):
    """Hourly rollup partials re-aggregated over an hour-aligned range
    must equal the direct aggregation over raw events — the mergeable-
    partials contract of the hypertable-rollup pattern."""
    from market_insights_app_spark.operators.windows import hourly_rollup, rollup_range_agg
    from market_insights_app_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rollup = hourly_rollup(ev, "ts", ["event_type"], "value")
    start, end = "2024-01-05 00:00:00", "2024-01-10 00:00:00"
    got = {
        r["event_type"]: (r["n"], round(r["sum_v"], 4), r["min_v"], r["max_v"])
        for r in rollup_range_agg(rollup, start, end, ["event_type"]).collect()
    }
    direct = (
        ev.filter((F.col("ts") >= start) & (F.col("ts") < end))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
    )
    want = {
        r["event_type"]: (r["n"], round(r["s"], 4), r["mn"], r["mx"])
        for r in direct.collect()
    }
    assert got == want and got


# ---------------------------------------------------------------------------
# funnel / cohort analytics (operators/funnel.py)
# ---------------------------------------------------------------------------


def test_funnel_first_touch_golden(spark):
    """u1 completes the full funnel in order; u2's click precedes its
    view (breaks the chain at 'view'→'click'); u3 only signs up."""
    from market_insights_app_spark.operators.funnel import funnel_first_touch

    rows = [
        (1, ts("2024-01-01T00:00:00"), "signup"),
        (1, ts("2024-01-01T01:00:00"), "view"),
        (1, ts("2024-01-01T02:00:00"), "click"),
        (1, ts("2024-01-01T03:00:00"), "purchase"),
        (2, ts("2024-01-01T00:00:00"), "signup"),
        (2, ts("2024-01-01T02:00:00"), "view"),
        (2, ts("2024-01-01T01:00:00"), "click"),  # click BEFORE view
        (2, ts("2024-01-01T03:00:00"), "purchase"),
        (3, ts("2024-01-01T00:00:00"), "signup"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["step"]: r["users"]
        for r in funnel_first_touch(
            df, ["signup", "view", "click", "purchase"]
        ).collect()
    }
    assert out == {"signup": 3, "view": 2, "click": 1, "purchase": 1}


def test_funnel_step_names_with_quotes(spark):
    """Step names are data-dependent config — a single quote (or any
    SQL metacharacter) must not break the unpivot expression."""
    from market_insights_app_spark.operators.funnel import funnel_first_touch

    rows = [
        (1, ts("2024-01-01T00:00:00"), "sign'up"),
        (1, ts("2024-01-01T01:00:00"), 'vi"ew'),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["step"]: r["users"]
        for r in funnel_first_touch(df, ["sign'up", 'vi"ew']).collect()
    }
    assert out == {"sign'up": 1, 'vi"ew': 1}


def test_cohort_retention_golden(spark):
    """u1 first active week 0, returns week 1; u2 first active week 1
    only — matrix rows (cohort, offset, users)."""
    from market_insights_app_spark.operators.funnel import cohort_retention

    rows = [
        (1, ts("2024-01-02T00:00:00")),  # week 0
        (1, ts("2024-01-10T00:00:00")),  # week 1
        (2, ts("2024-01-09T00:00:00")),  # week 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        (r["cohort"], r["week_offset"]): r["users"]
        for r in cohort_retention(df).collect()
    }
    assert out == {(0, 0): 1, (0, 1): 1, (1, 0): 1}


# ---------------------------------------------------------------------------
# chunking (operators/packing.py chunk_tokens)
# ---------------------------------------------------------------------------


def test_chunk_tokens_overlap_and_tail(spark):
    from market_insights_app_spark.operators.packing import chunk_tokens

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = chunk_tokens(df, chunk_size=4, overlap=1).orderBy("chunk_idx").collect()
    # step=3 → starts 0,3,6; a start at 9 would yield "t9", fully
    # contained in the previous chunk (tail ≤ overlap) — suppressed
    assert [r["chunk_idx"] for r in out] == [0, 1, 2]
    assert out[0]["chunk_text"] == "t0 t1 t2 t3"
    assert out[1]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert out[2]["chunk_text"] == "t6 t7 t8 t9"  # covers through the end
    assert [r["chunk_tokens"] for r in out] == [4, 4, 4]

    # 11 tokens: the tail chunk carries genuinely new content (t10)
    text11 = " ".join(f"t{i}" for i in range(11))
    df11 = spark.createDataFrame([(1, text11)], "doc_id long, text string")
    out11 = chunk_tokens(df11, chunk_size=4, overlap=1).orderBy("chunk_idx").collect()
    assert [r["chunk_idx"] for r in out11] == [0, 1, 2, 3]
    assert out11[3]["chunk_text"] == "t9 t10"  # short tail, new token kept
    assert [r["chunk_tokens"] for r in out11] == [4, 4, 4, 2]


def test_chunk_tokens_rejects_bad_overlap(spark):
    from market_insights_app_spark.operators.packing import chunk_tokens

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_tokens(df, chunk_size=4, overlap=4)


# ---------------------------------------------------------------------------
# indicator family additions (operators/windows.py rsi / bollinger)
# ---------------------------------------------------------------------------


def test_rsi_golden(spark):
    """RSI(2) on a hand-computed series: gains/losses over the trailing
    2 deltas. Series 1,2,4,3,5 → deltas _,+1,+2,-1,+2."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from market_insights_app_spark.operators.windows import rsi

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 4, 3, 5])], "i long, value double"
    )
    w = Window.orderBy("i")
    out = [r["rsi"] for r in df.select(rsi("value", w, 2).alias("rsi")).orderBy("i").collect()]
    # warm-up: rows 0,1 (fewer than 2 deltas) → null
    assert out[0] is None and out[1] is None
    assert out[2] == 100.0            # G=3, L=0
    assert abs(out[3] - 100 * 2 / 3) < 1e-12   # G=2, L=1
    assert abs(out[4] - 100 * 2 / 3) < 1e-12   # G=2, L=1


def test_rsi_flat_window_null(spark):
    from pyspark.sql.window import Window

    from market_insights_app_spark.operators.windows import rsi

    df = spark.createDataFrame([(i, 5.0) for i in range(4)], "i long, value double")
    out = df.select(rsi("value", Window.orderBy("i"), 2).alias("rsi")).collect()
    assert all(r["rsi"] is None for r in out)  # G+L = 0 everywhere


def test_bollinger_golden(spark):
    """Bollinger(3, 1): mid=avg, sd=sample stddev of trailing 3."""
    import statistics

    from pyspark.sql.window import Window

    from market_insights_app_spark.operators.windows import bollinger

    vals = [1.0, 2.0, 3.0, 6.0]
    df = spark.createDataFrame(list(enumerate(vals)), "i long, value double")
    u, lo, pb = bollinger("value", Window.orderBy("i"), 3, 1.0)
    rows = (
        df.select("i", "value", u.alias("u"), lo.alias("lo"), pb.alias("pb"))
        .orderBy("i")
        .collect()
    )
    assert rows[0]["u"] is None and rows[1]["u"] is None  # warm-up
    for r, window in [(rows[2], vals[0:3]), (rows[3], vals[1:4])]:
        mid, sd = sum(window) / 3, statistics.stdev(window)
        assert abs(r["u"] - (mid + sd)) < 1e-9
        assert abs(r["lo"] - (mid - sd)) < 1e-9
        assert abs(r["pb"] - (r["value"] - (mid - sd)) / (2 * sd)) < 1e-9


def test_ewma_golden(spark):
    """Truncated adjust=True EWMA: hand-rolled reference with the same
    weights, including warm-up partial windows."""
    from pyspark.sql.window import Window

    from market_insights_app_spark.operators.windows import ewma, ewma_weights

    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 13.0]
    span = 3
    df = spark.createDataFrame(list(enumerate(vals)), "i long, value double")
    out = [
        r["e"]
        for r in df.select(ewma("value", Window.orderBy("i"), span).alias("e"))
        .orderBy("i")
        .collect()
    ]
    w = ewma_weights(span)
    for i, got in enumerate(out):
        window = vals[max(0, i - span + 1) : i + 1][::-1]  # newest first
        num = sum(v * w[k] for k, v in enumerate(window))
        den = sum(w[: len(window)])
        assert abs(got - num / den) < 1e-12, (i, got, num / den)


def test_ewma_pair_bit_identical_to_ewma(spark):
    """The fused one-window ewma_pair (r13) must reproduce both spans'
    standalone ewma values BIT-identically, through every warm-up
    partial window — including the fast span's slice of the slow
    span's window array."""
    from pyspark.sql.window import Window

    from market_insights_app_spark.operators.windows import ewma, ewma_pair

    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 13.0, 9.5, 16.25, 8.0, 14.5,
            11.75, 10.0, None, 12.5]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, value double"
    )
    w = Window.orderBy("i")
    f, s = ewma_pair("value", w, 3, 5)
    rows = (
        df.select(
            "i",
            f.alias("pf"),
            s.alias("ps"),
            ewma("value", w, 3).alias("ef"),
            ewma("value", w, 5).alias("es"),
        )
        .orderBy("i")
        .collect()
    )
    for r in rows:
        assert r["pf"] == r["ef"], (r["i"], r["pf"], r["ef"])
        assert r["ps"] == r["es"], (r["i"], r["ps"], r["es"])


def test_passage_dedup_first_occurrence(spark):
    """A passage shared across docs survives only at its first
    (doc_id, idx) occurrence; reassembly preserves passage order."""
    from market_insights_app_spark.operators.dedup import passage_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),          # passages: 'a b c', 'x y z'
            (2, "a b c q r s"),          # 'a b c' duplicates doc 1
            (3, "q r s a b c x y z"),    # everything already seen
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in passage_dedup(docs, passage_tokens=3).collect()}
    assert rows[1]["n_kept"] == 2 and rows[1]["text_dedup"] == "a b c x y z"
    assert rows[2]["n_kept"] == 1 and rows[2]["text_dedup"] == "q r s"
    assert rows[3]["n_kept"] == 0 and rows[3]["text_dedup"] == ""
    assert rows[3]["n_passages"] == 3


def test_semdedup_drops_near_identical_in_cluster(spark):
    """Two near-identical vectors land in one cluster; only the lower
    id survives. A distant vector is untouched."""
    from market_insights_app_spark.operators.similarity import semdedup

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"] for r in semdedup(df, k=2, iters=1, threshold=0.95).collect()}
    assert out == {1, 3}


def test_profile_table_counts(spark):
    from market_insights_app_spark.operators.profiling import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "id long, s string"
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == 4 and prof["id"]["n_null"] == 0
    assert prof["id"]["n_distinct"] == 4
    assert prof["id"]["min_str"] == "1" and prof["id"]["max_str"] == "4"
    assert prof["s"]["n_null"] == 1 and prof["s"]["n_distinct"] == 2
    # approximate path keeps the same schema
    approx = {r["column"]: r for r in profile_table(df, approximate=True).collect()}
    assert set(approx) == {"id", "s"}


def test_temperature_mixture_alpha_extremes_and_midpoint(spark):
    """alpha=1 → natural distribution (everything kept); alpha=0 →
    uniform target (each group's expected share equal, smallest group
    binding); 0<alpha<1 up-weights the small group relative to its
    size. Deterministic across reruns (hash predicate, no RNG)."""
    from market_insights_app_spark.operators.sampling import (
        temperature_mixture,
    )

    rows = (
        [(i, "big") for i in range(3000)]
        + [(10_000 + i, "small") for i in range(300)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")

    # alpha=1: weights ∝ sizes → every rate is 1.0, nothing dropped
    assert temperature_mixture(df, alpha=1.0).count() == 3300

    # alpha=0: uniform target; small (300) binds → expect ~300 of big
    by0 = {
        r["source"]: r["count"]
        for r in temperature_mixture(df, alpha=0.0)
        .groupBy("source")
        .count()
        .collect()
    }
    assert by0["small"] == 300
    assert abs(by0["big"] - 300) < 4 * (300 * 0.9) ** 0.5

    # alpha=0.5: small's share rises above natural (300/3300 ≈ 9.1%)
    # toward the √-scaled target 1/(1+√10) ≈ 24%
    mid = temperature_mixture(df, alpha=0.5)
    bym = {
        r["source"]: r["count"]
        for r in mid.groupBy("source").count().collect()
    }
    share = bym["small"] / (bym["small"] + bym["big"])
    assert 0.15 < share < 0.35, share
    # determinism
    assert sorted(r["doc_id"] for r in mid.collect()) == sorted(
        r["doc_id"] for r in temperature_mixture(df, alpha=0.5).collect()
    )

    # degenerate inputs: empty frame, negative alpha
    empty = spark.createDataFrame([], "doc_id long, source string")
    assert temperature_mixture(empty, alpha=0.5).count() == 0
    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture(df, alpha=-1.0)


def test_kfold_column_uniform_stable_and_group_keyed(spark):
    """k-fold assignment: every fold populated and roughly uniform,
    identical across reruns/repartitioning, leakage-safe when keyed on
    a group column (all rows of a group share one fold), NULL keys get
    a deterministic fold, k=1 puts everything in fold 0."""
    from market_insights_app_spark.operators.sampling import kfold_column

    df = spark.createDataFrame(
        [(i, f"dom{i % 37}") for i in range(5000)] + [(9999, None)],
        "doc_id long, domain string",
    )
    folds = df.select("doc_id", kfold_column("doc_id", 5))
    by = {r["fold"]: r["count"] for r in folds.groupBy("fold").count().collect()}
    assert set(by) == {0, 1, 2, 3, 4}
    assert all(abs(v - 1000) < 5 * (1000 * 0.8) ** 0.5 for v in by.values()), by
    # stability under repartitioning
    a = sorted(tuple(r) for r in folds.collect())
    b = sorted(
        tuple(r)
        for r in df.repartition(13)
        .select("doc_id", kfold_column("doc_id", 5))
        .collect()
    )
    assert a == b
    # group-keyed: one fold per domain
    gf = df.select("domain", kfold_column("domain", 4)).distinct()
    per_domain = gf.groupBy("domain").count().collect()
    assert all(r["count"] == 1 for r in per_domain)
    # k=1 and the k<1 guard
    assert df.select(kfold_column("doc_id", 1)).distinct().collect()[0][0] == 0
    with pytest.raises(ValueError, match="k must be"):
        kfold_column("doc_id", 0)


def test_temperature_mixture_null_groups_dropped_not_crash(spark):
    """ADVICE r8: a NULL group key must not crash the weight-vector
    build — NULL-group rows are dropped (they can never match the
    mixture_sample equi-join anyway) and the non-NULL groups sample
    exactly as they would without the NULL rows."""
    from market_insights_app_spark.operators.sampling import (
        temperature_mixture,
    )

    rows = [(i, "a") for i in range(300)] + [(i + 1000, "b") for i in range(100)]
    clean = spark.createDataFrame(rows, "doc_id long, source string")
    dirty = clean.union(
        spark.createDataFrame(
            [(9000 + i, None) for i in range(50)], "doc_id long, source string"
        )
    )
    got = sorted(
        (r.doc_id, r.source)
        for r in temperature_mixture(dirty, alpha=0.5).collect()
    )
    want = sorted(
        (r.doc_id, r.source)
        for r in temperature_mixture(clean, alpha=0.5).collect()
    )
    assert got == want and len(got) > 0
    assert all(s is not None for _, s in got)


def test_zipf_slope_golden_exact_power_law(spark):
    """Golden pin for the Zipf fit (the value law stays pinned here
    whatever happens to its registry row): a corpus whose term k
    appears exactly round(C/k) times is a perfect log-log line, so the
    OLS slope must recover −1 to within the integer-rounding wiggle,
    and a single-token corpus must yield a NULL slope (zero
    denominator), not an error."""
    from market_insights_app_spark.plans.textml import q_zipf_slope

    words = []
    for k in range(1, 21):
        words += [f"w{k:02d}"] * round(240 / k)
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "syn", len(words))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="zipf_golden_")
    docs.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = q_zipf_slope(spark, d).collect()[0]
    assert out.n_terms == 20
    assert abs(out.slope - (-1.0)) < 0.02, out.slope

    single = spark.createDataFrame(
        [(0, "only only only", "en", "syn", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d2 = tempfile.mkdtemp(prefix="zipf_single_")
    single.coalesce(1).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
    row = q_zipf_slope(spark, d2).collect()[0]
    assert row.n_terms == 1 and row.slope is None
