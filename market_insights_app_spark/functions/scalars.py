"""Scalar column-expression library — SURVEY.md §2.8 (F1-F19).

Every function here returns a pyspark ``Column`` built only from
built-in ``pyspark.sql.functions`` — JVM-side, whole-stage-codegen
eligible, no Python UDFs. Reference citations (into /root/reference/)
mark the semantics each expression reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# --- F1: FX pair parsing (ingest/alpha_vantage_fx.py:9-13) -----------------
def parse_pair(col: Column | str) -> Column:
    """Strip '/', uppercase → struct(base, quote) of 3+3 chars; null when
    the cleaned string is not exactly 6 chars (reference raises)."""
    c = F.upper(F.regexp_replace(F.col(col) if isinstance(col, str) else col, "/", ""))
    ok = F.length(c) == 6
    return F.when(
        ok, F.struct(F.substring(c, 1, 3).alias("base"), F.substring(c, 4, 3).alias("quote"))
    )


# --- F2: timestamp normalization (alpha_vantage_fx.py:50-61 et al.) --------
def normalize_timestamp(col: Column | str) -> Column:
    """Parse the reference's three accepted shapes into TimestampType:
    'YYYY-MM-DD HH:MM:SS', ISO 'T'-joined (with/without trailing Z),
    and date-only (midnight). Unparseable → current_timestamp, matching
    the fallback at alpha_vantage_fx.py:59-61."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(c, "Z$", "")
    parsed = F.coalesce(
        F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd")),
    )
    return F.coalesce(parsed, F.current_timestamp())


def format_iso_z(col: Column | str) -> Column:
    """Canonical API-shape output format 'yyyy-MM-ddTHH:mm:ssZ'
    (seed_demo.py:24-25, alpha_vantage.py:41)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss'Z'")


# --- F3: news impact classifier (app/main.py:645-653) ----------------------
HIGH_IMPACT = ["nfp", "nonfarm", "cpi", "inflation", "fomc", "rate", "ecb", "fed", "gdp", "payrolls"]
MEDIUM_IMPACT = ["pmi", "retail", "claims", "confidence", "ppi", "ifo"]


def score_impact(
    title: Column | str,
    high: list[str] = HIGH_IMPACT,
    medium: list[str] = MEDIUM_IMPACT,
) -> Column:
    """Keyword-tier classifier: High if any high-keyword substring,
    else Medium if any medium-keyword, else Low (main.py:645-653)."""
    t = F.lower(F.col(title) if isinstance(title, str) else title)
    high_re = "|".join(high)
    med_re = "|".join(medium)
    return (
        F.when(t.rlike(high_re), F.lit("High"))
        .when(t.rlike(med_re), F.lit("Medium"))
        .otherwise(F.lit("Low"))
    )


# --- F4/F5: canonicalization (main.py:436-438; main.js:634-635,1043) -------
def canon_email(col: Column | str) -> Column:
    c = F.lower(F.trim(F.col(col) if isinstance(col, str) else col))
    return F.when(c.contains("@"), c)  # invalid → null (reference 400s)


def canon_symbol(col: Column | str) -> Column:
    """trim().upper() then strip non-A-Z (main.js:634-635)."""
    c = F.upper(F.trim(F.col(col) if isinstance(col, str) else col))
    return F.regexp_replace(c, "[^A-Z]", "")


# --- F6: per-symbol-class decimal formatting (main.js:41-47) ---------------
def fmt_price_decimals(symbol: Column | str) -> Column:
    s = F.col(symbol) if isinstance(symbol, str) else symbol
    return (
        F.when(s.endswith("JPY"), F.lit(3))
        .when(s.startswith("XA"), F.lit(2))
        .when(s.rlike("^[A-Z]{6}$"), F.lit(5))
        .otherwise(F.lit(4))
    )


def fmt_price(price: Column | str, symbol: Column | str) -> Column:
    # format_number needs a literal decimal count — branch per class
    p = F.col(price) if isinstance(price, str) else price
    s = F.col(symbol) if isinstance(symbol, str) else symbol
    return (
        F.when(s.endswith("JPY"), F.format_number(p, 3))
        .when(s.startswith("XA"), F.format_number(p, 2))
        .when(s.rlike("^[A-Z]{6}$"), F.format_number(p, 5))
        .otherwise(F.format_number(p, 4))
    )


# --- F7/F8: trade PnL and R-multiple (main.js:901-916) ---------------------
def pnl(direction, entry, exit, qty, fees) -> Column:
    """Long: (exit-entry)*qty - fees; Short: (entry-exit)*qty - fees;
    null inputs coerce to 0 (main.js:901-908)."""
    d = F.col(direction) if isinstance(direction, str) else direction
    e = F.coalesce(F.col(entry) if isinstance(entry, str) else entry, F.lit(0.0))
    x = F.coalesce(F.col(exit) if isinstance(exit, str) else exit, F.lit(0.0))
    q = F.coalesce(F.col(qty) if isinstance(qty, str) else qty, F.lit(0.0))
    f = F.coalesce(F.col(fees) if isinstance(fees, str) else fees, F.lit(0.0))
    per_unit = F.when(d == "Long", x - e).otherwise(e - x)
    return per_unit * q - f


def r_multiple(pnl_col, entry, stop, qty) -> Column:
    """r = pnl / (|entry-stop| * |qty|), 0 when risk-per-unit or qty is
    0/null (main.js:909-916)."""
    p = F.col(pnl_col) if isinstance(pnl_col, str) else pnl_col
    e = F.coalesce(F.col(entry) if isinstance(entry, str) else entry, F.lit(0.0))
    s = F.coalesce(F.col(stop) if isinstance(stop, str) else stop, F.lit(0.0))
    q = F.coalesce(F.col(qty) if isinstance(qty, str) else qty, F.lit(0.0))
    denom = F.abs(e - s) * F.abs(q)
    return F.coalesce(p / F.nullif(denom, F.lit(0.0)), F.lit(0.0))


# --- F9: tag split/trim (main.js:958) --------------------------------------
def split_tags(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(F.coalesce(c, F.lit("")), ","), lambda x: F.trim(x)),
        lambda x: x != "",
    )


# --- F10: composite row signature (main.js:854) ----------------------------
def composite_signature(symbol, date, direction, entry, exit) -> Column:
    """'symbol|date[:16]|direction|entry|exit' merge key for the
    server/local journal union (main.js:853-858)."""
    cols = [
        F.col(symbol) if isinstance(symbol, str) else symbol,
        F.substring(
            F.date_format(F.col(date) if isinstance(date, str) else date, "yyyy-MM-dd'T'HH:mm"),
            1,
            16,
        ),
        F.col(direction) if isinstance(direction, str) else direction,
        (F.col(entry) if isinstance(entry, str) else entry).cast("string"),
        (F.col(exit) if isinstance(exit, str) else exit).cast("string"),
    ]
    return F.concat_ws("|", *cols)


# --- F12: date slicing/formatting (main.js:144-159, 125-137) ---------------
def day_key(ts: Column | str) -> Column:
    return F.date_format(F.col(ts) if isinstance(ts, str) else ts, "yyyy-MM-dd")


def minute_key(ts: Column | str) -> Column:
    return F.date_format(F.col(ts) if isinstance(ts, str) else ts, "yyyy-MM-dd'T'HH:mm")


def weekday_name(ts: Column | str) -> Column:
    return F.date_format(F.col(ts) if isinstance(ts, str) else ts, "EEEE")


def to_market_tz(ts: Column | str, tz: str = "America/New_York") -> Column:
    """Proper tz conversion replacing the hardcoded -7/-5 offsets at
    main.js:130-131."""
    return F.from_utc_timestamp(F.col(ts) if isinstance(ts, str) else ts, tz)


# --- F13: ATR-guess constant table (main.js:230) ---------------------------
def atr_guess(symbol: Column | str) -> Column:
    s = F.col(symbol) if isinstance(symbol, str) else symbol
    return (
        F.when(s.endswith("JPY"), F.lit(0.3))
        .when(s.startswith("XA"), F.lit(10.0))
        .otherwise(F.lit(0.005))
    )


# --- F15: clamp (main.js:1010) ---------------------------------------------
def clamp(col: Column, lo, hi) -> Column:
    return F.least(F.lit(hi), F.greatest(F.lit(lo), col))


# --- F17: null-propagating market value (db.py:423) ------------------------
def market_value(last_price: Column, qty: Column) -> Column:
    return last_price * qty  # Spark null semantics: null * x = null


# --- F18/F19: expiry predicate + TTL arithmetic (db.py:490,508-509,523) ----
def not_expired(expires_at: Column | str) -> Column:
    c = F.col(expires_at) if isinstance(expires_at, str) else expires_at
    return F.current_timestamp() < c


def ttl_from_now(minutes: int = 0, days: int = 0) -> Column:
    return F.current_timestamp() + F.expr(f"INTERVAL {days} DAYS") + F.expr(
        f"INTERVAL {minutes} MINUTES"
    )


# --- helpers shared by the registry ---------------------------------------
def r6(c: Column) -> Column:
    return F.round(c, 6)


def ts_us(col: Column | str) -> Column:
    """Epoch microseconds — timezone-free canonical timestamp output for
    oracle comparison (DuckDB twin: epoch_us(ts)).

    Parquet written with isAdjustedToUTC=false is read by Spark as
    TIMESTAMP_NTZ (inferTimestampNTZ defaults on in Spark 3.4+), and
    ``unix_micros`` rejects NTZ. The cast to TIMESTAMP is a no-op for
    LTZ inputs and re-interprets NTZ wall-clock in the session zone —
    value-preserving because every session here pins UTC, matching
    DuckDB's naive-as-UTC epoch_us.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))
