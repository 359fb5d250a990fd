"""Unicode robustness axis: every documents-touching oracle pair must
hash-match on a corpus far outside the driver testdata's ASCII comfort
zone — NFC and NFD accents, CJK (no word boundaries), RTL Arabic and
Hebrew, Cyrillic, emoji (incl. ZWJ families and flags), ligatures,
German sharp-s, full-width forms, URLs/emails/phones with non-ASCII
context, plus exact- and near-duplicate unicode pairs for the dedup
lanes.

Two KNOWN engine divergences are pinned (not papered over) in
``test_known_lowercase_divergences``: Java/Spark implements Unicode
SpecialCasing (context-sensitive Greek final sigma; Turkish capital
dotted I lowers to ``i`` + COMBINING DOT ABOVE) while DuckDB's
utf8proc maps per-codepoint (``σ``; plain ``i``).  The corpus contract
(SCALE_NOTES.md "Round-5 continuation", at commit faebac6, "Unicode
robustness axis") therefore excludes word-final ``Σ`` and
``İ`` from hash-gated corpora; everything else verified here rides
``lower()`` safely.
"""

from __future__ import annotations

import os
import re

import pytest

from market_insights_app_spark.plans.registry import ORACLES, QUERIES
from tests.conftest import SF_ORACLE
from tests.test_oracle_parity import canon

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_DOC_ORACLES = sorted(
    n for n, s in ORACLES.items() if re.search(r"\bdocuments\b", s)
)

# ~40 docs spanning the unicode classes; a few deliberate exact dups /
# near-dups / shared n-grams so dedup, novelty, and passage lanes have
# real work. No word-final Σ, no İ (see module docstring).
_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",  # exact dup
    "the quick brown fox leaps over the lazy dog",  # near dup
    "café résumé naïve déjà vu — em-dash … ellipsis",
    "café résumé naı̈ve",  # NFD forms
    "中文没有空格所以整句是一个词",
    "日本語 の テスト 文章 です",
    "中文没有空格所以整句是一个词",  # CJK exact dup
    "مرحبا بالعالم هذا نص عربي من اليمين",
    "שלום עולם זהו טקסט עברי",
    "Привет мир это русский текст для проверки",
    "γειά σου κόσμε αυτό είναι ελληνικό κείμενο",
    "ΣΟΦΙΑ ΑΘΗΝΑ",  # capital sigma word-INITIAL only (safe both engines)
    "👩‍🔬 does science 👨‍👩‍👧‍👦 family emoji 🇺🇦 🇯🇵 flags",
    "Straße STRASSE GROSS Maße weiß",
    "ﬁle ﬂow oﬃce ligatures ǅungla ǉubav",
    "ＦＵＬＬＷＩＤＴＨ ｔｅｘｔ ０１２３",
    "tab\tseparated and  double  spaced   tokens",
    "visit https://example.com/path?q=1 and http://sub.example.org/ü/page",
    "contact john.doe@example.com or +1-555-123-4567 today",
    "şeker ve çay güzel ğ ü ö ı turkish lowercase only",
    "the the the the repeated repeated token stuffing stuffing",
    "a b c d e f g h i j k l m n o p",
    "zero‐width‑joiner test and no‑break‑hyphen",
    "mixed 英語 and 中文 and english words",
    "quotes “curly” ‘single’ «guillemets» „low“",
    "math ∑ ∫ ≈ ≠ ± × ÷ symbols",  # Σ-lookalike U+2211 is a math symbol, not cased
    "currency € £ ¥ ₹ ₿ values 42.50",
    "accents àèìòù áéíóú âêîôû ãõñ äëïöü",
    "vietnamese tiếng việt có dấu thanh điệu",
    "korean 한국어 텍스트 테스트 입니다",
    "thai ภาษาไทยไม่มีช่องว่าง ระหว่างคำ",
    "devanagari हिन्दी पाठ परीक्षण",
    "supplementary 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝕞𝕒𝕥𝕙 𝒮𝒸𝓇𝒾𝓅𝓉",
    "astral emoji 😀 😃 😄 😁 aligned",
    "the quick brown fox jumps over the lazy dog extra tail tokens",
    "short",
    "punctuation!!! ??? ;;; ::: ,,, ...",
    "12345 67890 numbers 3.14159 2.71828",
    "ＣＪＫ　ideographic　space　separated",
]


def _doc_rows():
    # keep the real testdata domains: queries carry literal weights /
    # group lists keyed on these (e.g. mixture_sample names src0..src3)
    langs = ["en", "zh", "de", "fr", "es"]
    srcs = ["src0", "src1", "src2", "src3"]
    return [
        (i, t, langs[i % len(langs)], srcs[i % len(srcs)], len(t))
        for i, t in enumerate(_TEXTS)
    ]


@pytest.fixture(scope="module")
def uni_dir(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("uni_sf")
    docs = spark.createDataFrame(
        _doc_rows(), "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    for t in _TABLES:
        if t == "documents":
            continue
        os.symlink(
            os.path.abspath(f"{SF_ORACLE}/{t}.parquet"), str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.fixture(scope="module")
def uni_duck(uni_dir):
    import duckdb

    con = duckdb.connect()
    for t in _TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{uni_dir}/{t}.parquet/*.parquet')"
            if t == "documents"
            else f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{uni_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _DOC_ORACLES)
def test_unicode_corpus_parity(name, spark, uni_dir, uni_duck):
    fn, sql = QUERIES[name], ORACLES[name]
    sdf = fn(spark, uni_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = uni_duck.sql(sql)
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(dcols), f"{name}: column sets differ"
    assert len(srows) == len(drows), (
        f"{name}: row counts {len(srows)} vs {len(drows)}"
    )
    sc, dc = canon(srows, sdf.columns), canon(drows, dcols)
    mism = [i for i, (a, b) in enumerate(zip(sc, dc)) if a != b][:3]
    assert sc == dc, f"{name}: mismatches " + "; ".join(
        f"spark={sc[i]} duck={dc[i]}" for i in mism
    )


def test_known_lowercase_divergences(spark, uni_duck):
    """Pin the two ``lower()`` engine deltas so a silent engine change
    (either side) fails loudly: Spark applies Unicode SpecialCasing,
    DuckDB maps per-codepoint."""
    from pyspark.sql import functions as F

    cases = [("ΒΑΣΙΛΕΥΣ", "βασιλευς", "βασιλευσ"),  # word-final sigma
             ("İstanbul", "i̇stanbul", "istanbul")]  # dotted capital I
    sdf = spark.createDataFrame([(t,) for t, _, _ in cases], ["t"]).select(
        F.lower("t").alias("lo")
    )
    got_spark = [r.lo for r in sdf.collect()]
    for (t, exp_spark, exp_duck), got in zip(cases, got_spark):
        assert got == exp_spark, (t, got)
        (got_duck,) = uni_duck.execute("SELECT lower(?)", [t]).fetchone()
        assert got_duck == exp_duck, (t, got_duck)
