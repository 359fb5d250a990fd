"""Exercises every exported operator/function not covered elsewhere —
cheap insurance that the full API surface builds valid plans and
returns sane values (golden-checked where the semantics are scalar)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_remaining_scalars(spark):
    from market_insights_app_spark.functions.scalars import (
        atr_guess,
        clamp,
        day_key,
        fmt_price_decimals,
        market_value,
        minute_key,
        not_expired,
        to_market_tz,
        ttl_from_now,
        weekday_name,
    )

    df = spark.createDataFrame(
        [("USDJPY", 5.0, dt.datetime(2024, 3, 4, 15, 30, 0))], ["sym", "qty", "ts"]
    )
    r = df.select(
        atr_guess("sym").alias("atr"),
        fmt_price_decimals("sym").alias("dp"),
        clamp(F.lit(42), 0, 9).alias("clamped"),
        day_key("ts").alias("day"),
        minute_key("ts").alias("minute"),
        weekday_name("ts").alias("wd"),
        to_market_tz("ts").alias("ny"),
        market_value(F.lit(None).cast("double"), F.col("qty")).alias("mv_null"),
        market_value(F.lit(2.0), F.col("qty")).alias("mv"),
        not_expired(F.lit(dt.datetime(2099, 1, 1))).alias("live"),
        ttl_from_now(minutes=10).alias("ttl"),
    ).collect()[0]
    assert r["atr"] == 0.3 and r["dp"] == 3  # JPY class (main.js:230, 41-47)
    assert r["clamped"] == 9
    assert r["day"] == "2024-03-04" and r["minute"] == "2024-03-04T15:30"
    assert r["wd"] == "Monday"
    assert str(r["ny"]).startswith("2024-03-04 10:30")  # UTC-5 in March (EST)
    assert r["mv_null"] is None and r["mv"] == 10.0  # F17 null propagation
    assert r["live"] is True and r["ttl"] is not None


def test_arg_extreme_window(spark):
    """W4 max_by/min_by as window functions over a trailing frame."""
    from market_insights_app_spark.operators.windows import arg_extreme, series_window

    df = spark.createDataFrame(
        [(1, 0, 5.0), (2, 0, 9.0), (3, 0, 7.0), (4, 0, 1.0)], "id long, k int, v double"
    )
    w = series_window(["k"], "id")
    out = {
        r["id"]: (r["hi_id"], r["lo_id"])
        for r in df.select(
            "id",
            arg_extreme("v", "id", w, 3, highest=True).alias("hi_id"),
            arg_extreme("v", "id", w, 3, highest=False).alias("lo_id"),
        ).collect()
    }
    assert out[3] == (2, 1)  # frame {1,2,3}: max v@2, min v@1
    assert out[4] == (2, 4)  # frame {2,3,4}: max v@2, min v@4


def test_rolling_max_and_cumulative(spark):
    from market_insights_app_spark.operators.windows import (
        cumulative,
        rolling_max,
        series_window,
    )

    df = spark.createDataFrame(
        [(i, 0, float(v)) for i, v in enumerate([3, 1, 4, 1, 5])], "id long, k int, v double"
    )
    w = series_window(["k"], "id")
    rows = df.select(
        "id", rolling_max("v", w, 2).alias("m"), cumulative("v", w).alias("c")
    ).orderBy("id").collect()
    assert [r["m"] for r in rows] == [3.0, 3.0, 4.0, 4.0, 5.0]
    assert [r["c"] for r in rows] == [3.0, 4.0, 8.0, 9.0, 14.0]


def test_minhash_signature_expression_form(spark):
    """Pure-expression signature == DataFrame-form signature for the
    same document (the two implementations must agree)."""
    from market_insights_app_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures_df,
    )

    df = spark.createDataFrame([(7, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    expr_sig = df.select(minhash_signature("text", 8).alias("s")).collect()[0]["s"]
    df_sig = minhash_signatures_df(df, num_hashes=8).collect()[0]
    assert expr_sig == list(df_sig["sig"])


def test_simhash_expression_matches_df(spark):
    from market_insights_app_spark.operators.dedup import simhash, simhash_df

    df = spark.createDataFrame([(1, "one two three four")], "doc_id long, text string")
    a = df.select(simhash("text").alias("h")).collect()[0]["h"]
    b = simhash_df(df).collect()[0]["h"]
    assert a == b


def test_cap_media_per_doc(spark):
    from market_insights_app_spark.operators.multimodal import cap_media_per_doc

    media = spark.createDataFrame(
        [(i, 1, "image") for i in range(8)] + [(100, 2, "image")],
        "media_id long, doc_id long, kind string",
    )
    out = cap_media_per_doc(media, n=5)
    counts = {r["doc_id"]: r["n"] for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 5, 2: 1}  # main.py:703 cap


def test_prices_filter_operator(spark):
    from market_insights_app_spark.operators.filters import prices_filter

    df = spark.createDataFrame(
        [
            ("A", dt.datetime(2024, 1, 1), 1.0),
            ("A", dt.datetime(2024, 2, 1), 2.0),
            ("B", dt.datetime(2024, 1, 15), 3.0),
        ],
        "symbol string, as_of timestamp, price double",
    )
    assert prices_filter(df, symbol="A").count() == 2
    assert prices_filter(df, start="2024-01-10", end="2024-01-20").count() == 1
    assert prices_filter(df).count() == 3  # no filters → identity


def test_norm_tokens_identical_to_normalized_tokens(spark):
    """norm_tokens (r14: no whitespace-collapse regex pass) must yield
    EXACTLY tokens(normalize_text(...)) on every whitespace shape the
    collapse could have mattered for — leading/trailing runs, tabs,
    newlines, CRs, multi-space runs, unicode text, empty/blank docs."""
    from market_insights_app_spark.functions.text import (
        norm_tokens,
        normalize_text,
        tokens,
    )

    rows = [
        ("  Leading and trailing  ",),
        ("tabs\tand\t\tdouble\ttabs",),
        ("new\nlines\r\nand\rCRs",),
        ("many     spaces   between",),
        ("MiXeD CaSe WORDS",),
        ("",),
        ("   ",),
        ("\t\n\r",),
        ("unicode: héllo wörld",),
        ("a",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    got = df.select(
        norm_tokens("text").alias("fast"),
        tokens(normalize_text("text")).alias("ref"),
    ).collect()
    for r in got:
        assert r["fast"] == r["ref"], (r["fast"], r["ref"])


def test_no_unused_module_imports():
    """Every module-level import in the package, ``tests/`` and
    ``scripts/`` is named somewhere in its module.  A name that only a
    string annotation mentions counts as used; ``__init__.py`` files are
    exempt, since their imports are re-exports.  A helper that retires
    otherwise leaves its import behind, which no other check notices."""
    import ast
    import glob
    import os

    repo = __file__.rsplit("/tests/", 1)[0]
    paths = sorted(
        p
        for pattern in ("market_insights_app_spark/**/*.py", "tests/**/*.py", "scripts/*.py")
        for p in glob.glob(f"{repo}/{pattern}", recursive=True)
        if os.path.basename(p) != "__init__.py"
    )
    assert paths, "no modules found"
    bad = []
    for path in paths:
        rel = os.path.relpath(path, repo)
        tree = ast.parse(open(path, encoding="utf-8").read(), rel)
        imported, stack = {}, list(tree.body)
        while stack:  # the module body, including its if/try blocks
            node = stack.pop()
            if isinstance(node, (ast.If, ast.Try)):
                stack += node.body + node.orelse + getattr(node, "finalbody", [])
                stack += [s for h in getattr(node, "handlers", []) for s in h.body]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                if getattr(node, "module", None) == "__future__":
                    continue
                for a in node.names:
                    if a.name != "*":
                        imported[a.asname or a.name.split(".")[0]] = node.lineno
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            ann = getattr(node, "annotation", None) or getattr(node, "returns", None)
            for c in ast.walk(ann) if ann else ():
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    used |= {n.id for n in ast.walk(ast.parse(c.value, mode="eval"))
                             if isinstance(n, ast.Name)}
        bad += [f"{rel}:{line} {name}" for name, line in sorted(imported.items())
                if name not in used]
    assert not bad, f"module-level imports never used: {bad}"
