"""HTTP quote-source connectors — SURVEY.md §2.1 (S1-S3).

The reference fetches quotes from Alpha Vantage / Yahoo with
``requests`` and normalizes nested JSON procedurally
(ingest/alpha_vantage.py:15-48, alpha_vantage_fx.py:16-62,
yahoo.py:7-47). Spark-first restatement: the FETCH stays a driver-side
(or foreachBatch) concern; the PARSE/NORMALIZE is a declarative
``from_json`` plan over a DataFrame of raw payload strings — testable
without any network, vectorized, and usable identically in batch and
``foreachBatch`` streaming micro-batches.  Everything here is pure
DataFrame code; the caller owns the fetch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from market_insights_app_spark.functions.scalars import normalize_timestamp

# --- Alpha Vantage GLOBAL_QUOTE (alpha_vantage.py:26-48) -------------------
# The payload nests under "Global Quote" with either dotted or
# underscored keys ("05. price" vs "05_price") — the reference falls
# back between the variants (alpha_vantage.py:33-36).

ALPHA_VANTAGE_SCHEMA = T.StructType(
    [
        T.StructField(
            "Global Quote",
            T.StructType(
                [
                    T.StructField("01. symbol", T.StringType()),
                    T.StructField("01_symbol", T.StringType()),
                    T.StructField("05. price", T.StringType()),
                    T.StructField("05_price", T.StringType()),
                    T.StructField("07. latest trading day", T.StringType()),
                    T.StructField("07_latest_trading_day", T.StringType()),
                ]
            ),
        ),
        T.StructField("Note", T.StringType()),  # throttle marker (alpha_vantage.py:30)
        T.StructField("Error Message", T.StringType()),
    ]
)


def parse_alpha_vantage_quote(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """payload JSON string → (symbol, price, as_of, currency, error).
    Key-variant fallback via coalesce; throttle Note / Error Message
    surfaced as an ``error`` column instead of an exception."""
    j = F.from_json(F.col(payload_col), ALPHA_VANTAGE_SCHEMA)
    gq = j["Global Quote"]
    price_s = F.coalesce(gq["05. price"], gq["05_price"])
    symbol = F.upper(F.coalesce(gq["01. symbol"], gq["01_symbol"]))
    day = F.coalesce(gq["07. latest trading day"], gq["07_latest_trading_day"])
    return raw.select(
        symbol.alias("symbol"),
        price_s.try_cast("double").alias("price"),  # malformed → null, not ANSI error
        normalize_timestamp(day).alias("as_of"),
        F.lit(None).cast("string").alias("currency"),
        F.lit("alpha_vantage").alias("source"),
        F.coalesce(
            j["Note"],
            j["Error Message"],
            F.when(price_s.isNull(), F.lit("empty or malformed quote")),
        ).alias("error"),
    )


# --- Alpha Vantage CURRENCY_EXCHANGE_RATE (alpha_vantage_fx.py:25-62) ------

ALPHA_VANTAGE_FX_SCHEMA = T.StructType(
    [
        T.StructField(
            "Realtime Currency Exchange Rate",
            T.StructType(
                [
                    T.StructField("1. From_Currency Code", T.StringType()),
                    T.StructField("3. To_Currency Code", T.StringType()),
                    T.StructField("5. Exchange Rate", T.StringType()),
                    T.StructField("6. Last Refreshed", T.StringType()),
                ]
            ),
        ),
        T.StructField("Note", T.StringType()),
        T.StructField("Error Message", T.StringType()),
    ]
)


def parse_alpha_vantage_fx(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    j = F.from_json(F.col(payload_col), ALPHA_VANTAGE_FX_SCHEMA)
    r = j["Realtime Currency Exchange Rate"]
    rate = r["5. Exchange Rate"].try_cast("double")  # float-coercion validation
    # (alpha_vantage_fx.py:40-47 raises; here: null + error column)
    return raw.select(
        F.concat(
            F.upper(r["1. From_Currency Code"]), F.upper(r["3. To_Currency Code"])
        ).alias("symbol"),
        rate.alias("price"),
        normalize_timestamp(r["6. Last Refreshed"]).alias("as_of"),
        F.upper(r["3. To_Currency Code"]).alias("currency"),
        F.lit("alpha_vantage_fx").alias("source"),
        F.coalesce(
            j["Note"],
            j["Error Message"],
            F.when(rate.isNull(), F.lit("invalid or missing exchange rate")),
        ).alias("error"),
    )


# --- Yahoo chart (yahoo.py:16-47): last non-null close ---------------------

YAHOO_SCHEMA = T.StructType(
    [
        T.StructField(
            "chart",
            T.StructType(
                [
                    T.StructField(
                        "result",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField(
                                        "meta",
                                        T.StructType(
                                            [
                                                T.StructField("symbol", T.StringType()),
                                                T.StructField("currency", T.StringType()),
                                            ]
                                        ),
                                    ),
                                    T.StructField("timestamp", T.ArrayType(T.LongType())),
                                    T.StructField(
                                        "indicators",
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "quote",
                                                    T.ArrayType(
                                                        T.StructType(
                                                            [
                                                                T.StructField(
                                                                    "close",
                                                                    T.ArrayType(T.DoubleType()),
                                                                )
                                                            ]
                                                        )
                                                    ),
                                                )
                                            ]
                                        ),
                                    ),
                                ]
                            )
                        ),
                    )
                ]
            ),
        )
    ]
)


def parse_yahoo_chart(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Zip timestamp[] with close[], drop null closes, take the latest
    non-null (yahoo.py:33-45) — arrays_zip + filter + element_at(-1),
    all JVM-side."""
    j = F.from_json(F.col(payload_col), YAHOO_SCHEMA)
    res = j["chart"]["result"].getItem(0)
    zipped = F.arrays_zip(
        res["timestamp"].alias("ts"),
        res["indicators"]["quote"].getItem(0)["close"].alias("close"),
    )
    valid = F.filter(zipped, lambda x: x["close"].isNotNull())
    last = F.try_element_at(valid, F.lit(-1))  # empty → null, not ANSI error
    return raw.select(
        F.upper(res["meta"]["symbol"]).alias("symbol"),
        last["close"].alias("price"),
        F.to_timestamp(F.from_unixtime(last["ts"])).alias("as_of"),
        res["meta"]["currency"].alias("currency"),
        F.lit("yahoo").alias("source"),
        F.when(last.isNull(), F.lit("no non-null close")).alias("error"),
    )
