"""S6/S7 journal JSON round-trip, S8/S9 seed generators, U2/U3 LLM
pipeline (deterministic fallback parity with main.py:685-687)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_seed_prices_shape_and_determinism(spark):
    from market_insights_app_spark.sources.seed import SEED_SYMBOLS, clear_demo, seed_prices

    p1 = seed_prices(spark, n_points=25, seed=42)
    rows = p1.collect()
    assert len(rows) == len(SEED_SYMBOLS) * 25  # 7 × 25 (seed_demo.py:30-43)
    assert all(r["price"] >= 1e-4 for r in rows)  # clamp (seed_demo.py:47)
    assert all(r["source"] == "demo" for r in rows)
    # deterministic under fixed seed
    p2 = seed_prices(spark, n_points=25, seed=42).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, p2))
    # hourly spacing per symbol
    eur = sorted([r["as_of"] for r in rows if r["symbol"] == "EURUSD"])
    deltas = {(b - a).total_seconds() for a, b in zip(eur, eur[1:])}
    assert deltas == {3600.0}
    # S9: demo delete removes everything seeded
    assert clear_demo(p1).count() == 0


def test_clear_demo_keeps_null_source(spark):
    """S9 null-safety: the reference's DELETE WHERE source='demo' keeps
    NULL-source rows (NULL='demo' is not true) — so must the filter
    rewrite (a bare != would silently drop them)."""
    from market_insights_app_spark.sources.seed import clear_demo, seed_prices

    demo = seed_prices(spark, n_points=2, seed=1)
    nulls = demo.limit(3).withColumn("source", F.lit(None).cast("string"))
    live = demo.limit(2).withColumn("source", F.lit("yahoo"))
    kept = clear_demo(demo.unionByName(nulls).unionByName(live))
    assert kept.count() == 5
    assert kept.filter(F.col("source").isNull()).count() == 3


def test_seed_journal_round_robin(spark):
    from market_insights_app_spark.sources.seed import seed_journal

    j = seed_journal(spark, n=40).collect()
    assert len(j) == 40
    assert [r["symbol"] for r in j[:4]] == ["EURUSD", "XAUUSD", "AAPL", "BTCUSD"]
    assert [r["direction"] for r in j[:4]] == ["Long", "Short", "Long", "Short"]


def test_journal_json_round_trip(spark, tmp_path):
    """S6/S7 (main.js:1066-1085): export journal to JSON, import with
    explicit schema, dedup against existing rows."""
    from market_insights_app_spark.operators.joins import union_merge
    from market_insights_app_spark.sources.seed import seed_journal

    full = seed_journal(spark, n=12)
    j = full.filter(F.col("id") <= 10)
    path = str(tmp_path / "journal_export")
    j.write.mode("overwrite").json(path)
    back = spark.read.schema(j.schema).json(path)
    assert back.count() == 10
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, j.collect()))
    # import merge: server wins, local-only appended (J3 semantics);
    # local has the same 10 rows plus 2 new ones
    merged = union_merge(back, full, ["symbol", "date", "direction", "entry", "exit"])
    assert merged.count() == 12


def test_llm_fallback_deterministic(spark):
    """tests/test_insights.py:4-9 parity: no API key → non-empty demo
    summary, stable across runs."""
    from market_insights_app_spark.llm.insights import DEMO_FALLBACK, generate_insights

    df = spark.createDataFrame([("EURUSD", "analyze this")], ["key", "prompt"])
    out = generate_insights(df).collect()
    assert out[0]["summary"] == DEMO_FALLBACK and len(out[0]["summary"]) > 0
    again = generate_insights(df).collect()
    assert out == again


def test_llm_injectable_client(spark):
    from market_insights_app_spark.llm.insights import generate_insights

    df = spark.createDataFrame([("A", "p1"), ("B", "p2")], ["key", "prompt"])
    out = {
        r["key"]: r["summary"]
        for r in generate_insights(df, complete=lambda p: f"echo:{p}").collect()
    }
    assert out == {"A": "echo:p1", "B": "echo:p2"}


def test_prompt_and_strategy_text(spark):
    from market_insights_app_spark.llm.insights import (
        build_insights_prompt,
        build_strategy_text,
    )

    df = spark.createDataFrame(
        [("EURUSD", "bullish", "discount", 1.1, 1.0, 1.05)],
        "symbol string, bias string, pd string, hi double, lo double, last double",
    )
    p = df.select(
        build_insights_prompt("symbol", "bias", "pd", "hi", "lo", "last").alias("p")
    ).collect()[0]["p"]
    assert "EURUSD" in p and "bias=bullish" in p and "[1.1000, 1.0000]" in p
    s = df.select(
        build_strategy_text(F.lit("Long"), F.lit(1.05), F.lit(1.0), F.lit(1.15)).alias("s")
    ).collect()[0]["s"]
    assert s == "Long setup: entry 1.0500, stop 1.0000, target 1.1500, R:R 2.00"


def test_http_chat_completer_request_shape(spark):
    """The live-call seam (app/main.py:700-731 parity): injected
    transport captures the exact request the completer would POST —
    endpoint path, bearer/org headers, system prompt, temperature,
    image cap — and its response parses back through the Spark batch
    boundary. No network involved."""
    import json

    from market_insights_app_spark.llm.insights import (
        generate_insights,
        http_chat_completer,
    )

    seen = {}

    def fake_transport(url, body, headers, timeout):
        seen.update(url=url, body=json.loads(body), headers=headers, timeout=timeout)
        return json.dumps(
            {"choices": [{"message": {"content": "  live summary  "}}]}
        ).encode()

    complete = http_chat_completer(
        api_key="sk-test",
        org_id="org-1",
        images=[f"data:image/png;base64,x{i}" for i in range(7)] + ["http://not-a-data-url"],
        transport=fake_transport,
    )
    # request shape: call the completer directly (driver-side) so the
    # capturing transport's dict is observable
    assert complete("analyze EURUSD") == "live summary"
    # Spark round-trip: the same callable survives the mapInPandas batch
    # boundary (transport closure pickles to the worker; its writes stay
    # worker-side, so only the response is asserted here)
    df = spark.createDataFrame([("k1", "analyze EURUSD")], ["key", "prompt"])
    out = generate_insights(df, complete=complete).collect()
    assert out[0]["summary"] == "live summary"
    assert seen["url"].endswith("/v1/chat/completions")
    assert seen["headers"]["Authorization"] == "Bearer sk-test"
    assert seen["headers"]["OpenAI-Organization"] == "org-1"
    assert seen["timeout"] == 60.0
    body = seen["body"]
    assert body["temperature"] == 0.4
    assert body["messages"][0]["role"] == "system"
    user_content = body["messages"][1]["content"]
    assert user_content[0] == {"type": "text", "text": "analyze EURUSD"}
    # 5-image cap and data-URL filter (main.py:703)
    assert len(user_content) == 1 + 5
    assert all(c["type"] == "image_url" for c in user_content[1:])
