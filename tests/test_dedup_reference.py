"""LSH-family operators vs pure-Python reference implementations —
the verification channel for the rows-only (non-SQL-expressible)
queries in the registry."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tests.cosine_models import f32_rows, neardup_pairs

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different text about spark engines and shuffles"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "spark engines and shuffles are completely different topics"),
    (5, "one two three four five six seven eight nine ten"),
]


def py_shingles(text: str, n: int) -> set[str]:
    toks = " ".join(text.lower().split()).split()
    if n == 1:
        return set(toks)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def py_jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_minhash_neardup_matches_true_jaccard(docs):
    """Every reported pair's jaccard must equal the exact set Jaccard
    (the verify stage is exact), and the obvious near-dup pairs must be
    found by the LSH candidate stage."""
    from market_insights_app_spark.operators.dedup import minhash_near_dupes

    out = {(r["a"], r["b"]): r["jaccard"] for r in minhash_near_dupes(docs, threshold=0.3).collect()}
    assert (0, 3) in out and out[(0, 3)] == 1.0  # exact dup always caught
    assert (0, 1) in out  # 8/10 shingle overlap
    for (a, b), j in out.items():
        truth = py_jaccard(py_shingles(DOCS[a][1], 2), py_shingles(DOCS[b][1], 2))
        assert j == pytest.approx(truth, abs=1e-6), (a, b)


def test_minhash_signature_is_real_minimum(spark, docs):
    """Signature h_i == min over shingles of the same hash Spark uses —
    recompute the hashes via Spark on exploded shingles and compare
    (guards the lambda-binding regression where every row of the
    signature silently used the same hash function)."""
    from market_insights_app_spark.functions.text import word_shingles
    from market_insights_app_spark.operators.dedup import (
        _hash_token,
        minhash_signatures_df,
    )

    sig = {r["id"]: list(r["sig"]) for r in minhash_signatures_df(docs).collect()}
    # signatures across hash indices must differ (not one function repeated)
    for v in sig.values():
        assert len(set(v)) > 1
    # cross-check h0/h1 against direct per-shingle hashing
    grams = docs.select(
        F.col("doc_id"), F.explode(word_shingles("text", 2)).alias("g")
    )
    direct = (
        grams.select(
            "doc_id",
            _hash_token(F.col("g"), 0).alias("a"),
            _hash_token(F.col("g"), 1).alias("b"),
        )
        .groupBy("doc_id")
        .agg(F.min("a").alias("h0"), F.min("b").alias("h1"))
    )
    for r in direct.collect():
        assert sig[r["doc_id"]][0] == r["h0"]
        assert sig[r["doc_id"]][1] == r["h1"]


def test_simhash_near_dupes(docs):
    from market_insights_app_spark.operators.dedup import simhash_near_dupes

    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_dupes(docs, max_hamming=10).collect()}
    assert pairs[(0, 3)] == 0  # identical text → identical simhash
    assert (0, 1) in pairs  # near-dup within 10 bits
    # dissimilar docs must NOT appear at a tight radius
    tight = {
        (r["a"], r["b"])
        for r in simhash_near_dupes(docs, max_hamming=3).collect()
    }
    assert (0, 5) not in tight and (2, 5) not in tight


def test_ngram_jaccard_vs_python(docs):
    from market_insights_app_spark.operators.dedup import ngram_jaccard_vs_query

    out = {
        r["doc_id"]: r["jaccard"]
        for r in ngram_jaccard_vs_query(docs, docs.filter(F.col("doc_id") == 0), n=1).collect()
    }
    for i, text in DOCS:
        truth = py_jaccard(py_shingles(text, 1), py_shingles(DOCS[0][1], 1))
        assert out[i] == pytest.approx(truth, abs=1e-6), i


def test_exact_dedup_first_wins(spark):
    from market_insights_app_spark.operators.dedup import first_wins

    df = spark.createDataFrame(
        [(1, "k", "first"), (2, "k", "second"), (3, "j", "only")],
        "seq long, key string, v string",
    )
    out = {r["key"]: r["v"] for r in first_wins(df, ["key"], "seq").collect()}
    assert out == {"k": "first", "j": "only"}  # INSERT OR IGNORE arrival order


def test_first_wins_string_order_col(spark):
    """order_col need not be numeric — ascending ranking window works on
    any orderable type (the old negation trick broke on strings)."""
    from market_insights_app_spark.operators.dedup import first_wins

    df = spark.createDataFrame(
        [("2024-02-01T00:00:00", "k", "later"), ("2024-01-15T09:30:00", "k", "earlier"),
         ("2024-03-01T00:00:00", "j", "only")],
        "arrived string, key string, v string",
    )
    out = {r["key"]: r["v"] for r in first_wins(df, ["key"], "arrived").collect()}
    assert out == {"k": "earlier", "j": "only"}


def test_md5_fingerprint_matches_python(spark):
    from market_insights_app_spark.functions.text import md5_fingerprint

    df = spark.createDataFrame([("  Hello   WORLD  ",)], "text string")
    got = df.select(md5_fingerprint("text").alias("fp")).collect()[0]["fp"]
    assert got == hashlib.md5(b"hello world").hexdigest()


def test_rolling_fingerprint_matches_python(spark):
    from market_insights_app_spark.functions.text import rolling_fingerprint

    text = "abc xyz"
    h = 0
    for ch in "abc xyz":
        h = (h * 257 + ord(ch)) % ((1 << 31) - 1)
    df = spark.createDataFrame([(text,)], "text string")
    assert df.select(rolling_fingerprint("text").alias("rh")).collect()[0]["rh"] == h


def test_ann_and_ivf_recall(spark):
    """Approximate top-k: self must rank first; recall vs brute force
    above a floor on clustered vectors."""
    import math

    from market_insights_app_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
        ivf_topk,
    )

    # 3 tight clusters of 40 vectors in 16-d (deterministic construction)
    rows = []
    for i in range(120):
        c = i % 3
        base = [1.0 if d // 5 == c else 0.05 for d in range(16)]
        vec = [b + 0.01 * math.sin(i * 7 + d) for d, b in enumerate(base)]
        rows.append((i, vec, c))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = rows[0][1]
    bf = [r["vec_id"] for r in cosine_topk(df, q, k=10).collect()]
    assert bf[0] == 0
    ann = [r["vec_id"] for r in ann_lsh_topk(df, q, k=10).collect()]
    assert ann[0] == 0 and len(set(bf) & set(ann)) >= 5
    ivf = [r["vec_id"] for r in ivf_topk(df, q, k=10, n_cells=6, nprobe=3, seed_ids=[0, 1, 2, 3, 4, 5]).collect()]
    assert ivf[0] == 0 and len(set(bf) & set(ivf)) >= 5


def test_embedding_neardup_bucketed(spark):
    from market_insights_app_spark.operators.similarity import cosine_self_join_neardup

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.999, 0.01], 0),
            (2, [0.0, 1.0], 1),  # different bucket — never compared with 0/1
            (3, [1.0, 0.001], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = {(r["a"], r["b"]) for r in cosine_self_join_neardup(df, "label", 0.99).collect()}
    assert (0, 1) in pairs
    assert all(a_b not in pairs for a_b in [(0, 3), (1, 3)])  # cross-bucket excluded


def test_embedding_neardup_lanes_bit_equal(spark):
    """The Arrow pair kernel (dimension-ordered row-block accumulation,
    raw pre-filter with a rounding margin, JVM-side round+filter) must
    match the pure-Python replay of the JVM cosine expression
    (``cosine_models.neardup_pairs``) bit for bit — including zero-norm pairs
    (dropped) and near-threshold cosines."""
    import random

    from market_insights_app_spark.operators.similarity import (
        cosine_self_join_neardup,
    )

    rng = random.Random(31)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3) for i in range(80)
    ]
    rows.append((80, [0.0] * 8, 0))          # zero-norm: no pairs
    rows.append((81, rows[0][1], 0))          # exact dup: cosine 1.0 pair
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    for thr in (0.2, 0.8):
        got = sorted(
            tuple(r)
            for r in cosine_self_join_neardup(df, "label", thr).collect()
        )
        assert got == neardup_pairs(f32_rows(rows), thr) and len(got) > 0, thr
        assert all(x[0] != 80 and x[1] != 80 for x in got)  # zero-norm out
        assert any(x[:2] == (0, 81) for x in got)           # dup pair found


def test_embedding_neardup_null_bucket_pairs_nothing(spark):
    """A NULL bucket key shares a bucket with nothing — SQL equi-join
    semantics, as in the ``embedding_neardup`` DuckDB twin
    (``l.label = r.label``) — so two near-identical rows with NULL
    labels never pair, while the same shape under label 0 does."""
    from market_insights_app_spark.operators.similarity import (
        cosine_self_join_neardup,
    )

    rows = [
        (1, [1.0, 0.0], None),
        (2, [1.0, 0.01], None),
        (3, [1.0, 0.0], 0),
        (4, [1.0, 0.02], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = sorted(
        tuple(r) for r in cosine_self_join_neardup(df, "label", 0.9).collect()
    )
    assert got == [(3, 4, 0.9998)]
    assert got == neardup_pairs(f32_rows(rows), 0.9)


def test_duplicate_clusters_components(spark):
    """Min-label propagation must find exact connected components,
    including a 4-node chain (diameter > 1) and a separate pair."""
    from market_insights_app_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    got = {r["id"]: r["cluster"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_corpus_end_to_end(spark):
    """docs 0/1/3 are mutual near-dups → one representative (min id)
    survives; everything else is untouched."""
    from market_insights_app_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = sorted(r["doc_id"] for r in dedup_corpus(docs, threshold=0.5).collect())
    assert 0 in out and 1 not in out and 3 not in out  # cluster {0,1,3} → keep 0
    assert set(out) >= {0, 2, 4, 5}


def test_cosine_topk_many(spark):
    from market_insights_app_spark.operators.similarity import cosine_topk_many

    corpus = spark.createDataFrame(
        [(i, [1.0 if j == i % 3 else 0.0 for j in range(3)]) for i in range(9)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])],
        "query_id long, embedding array<float>",
    )
    out = cosine_topk_many(corpus, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine"]))
    assert sorted(v for _, v, c in by_q[100] if c == 1.0) == [0, 3, 6]
    assert sorted(v for _, v, c in by_q[200] if c == 1.0) == [1, 4, 7]


def test_decontaminate_ngram_overlap(spark):
    """Docs sharing a word trigram with the eval set are dropped;
    shorter-than-n and disjoint docs survive."""
    from market_insights_app_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),      # contains eval trigram
            (2, "totally different words here"),   # clean
            (3, "two words"),                      # < 3 tokens → no grams
            (4, "QUICK   brown FOX and more"),     # normalized match
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "a quick brown fox ran")], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in decontaminate(train, eval_set).collect())
    assert kept == [2, 3]


def test_blocked_fuzzy_pairs(spark):
    """Only same-block pairs are compared; distance filter and a<b
    ordering hold."""
    from market_insights_app_spark.operators.dedup import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "jonathan", "us"),
            (2, "jonathen", "us"),   # distance 1, same block
            (3, "jonathan", "fr"),   # identical text, different block
            (4, "zzzzzzzz", "us"),   # same block, far away
        ],
        "id long, name string, country string",
    )
    out = blocked_fuzzy_pairs(df, "id", "name", ["country"], max_distance=2).collect()
    assert [(r["a"], r["b"], r["distance"]) for r in out] == [(1, 2, 1)]


def test_blocked_fuzzy_pairs_hot_block_cap(spark):
    """A degenerate hot block (here: one shared blocking value over
    most of the table) is dropped entirely by max_block_size, bounding
    the pair count; normal-sized blocks are untouched."""
    from market_insights_app_spark.operators.dedup import blocked_fuzzy_pairs

    rows = [(i, "samename", "hot") for i in range(50)] + [
        (100, "jonathan", "us"),
        (101, "jonathen", "us"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, country string")
    uncapped = blocked_fuzzy_pairs(df, "id", "name", ["country"], max_distance=2)
    assert uncapped.count() == 50 * 49 // 2 + 1  # hot block explodes quadratically
    capped = blocked_fuzzy_pairs(
        df, "id", "name", ["country"], max_distance=2, max_block_size=10
    ).collect()
    assert [(r["a"], r["b"], r["distance"]) for r in capped] == [(100, 101, 1)]


def test_quantize_int8_golden(spark):
    """Hand-checked codes: scale = max|x|/127; floor(x/scale + 0.5);
    zero vectors dropped."""
    from market_insights_app_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (1, [1.27, -0.635, 0.0, 0.01]),   # scale 0.01 → 127, -63 (floor(-63.5+.5)), 0, 1
            (2, [0.0, 0.0]),                   # all-zero → dropped
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert set(rows) == {1}
    r = rows[1]
    assert abs(r["scale"] - 0.01) < 1e-12
    assert r["codes"] == [127, -63, 0, 1]


def test_quantized_topk_recall(spark):
    """int8 quantization must not wreck ANN quality: cosine top-10 over
    the DEQUANTIZED corpus recovers >=9/10 of the exact float top-10 on
    the real sf0.001 embeddings (64-dim)."""
    from pyspark.sql import functions as F

    from market_insights_app_spark.operators.similarity import (
        cosine_topk,
        quantize_int8,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    exact = {r["vec_id"] for r in cosine_topk(emb, qvec, k=10).collect()}
    deq = quantize_int8(emb).select(
        "vec_id",
        F.transform("codes", lambda c: c * F.col("scale")).alias("embedding"),
    )
    approx = {r["vec_id"] for r in cosine_topk(deq, qvec, k=10).collect()}
    assert len(exact & approx) >= 9


def test_jaccard_dense_and_token_paths_agree(spark, monkeypatch):
    """jaccard_clusters' dense bitmask path and the token-join +
    doc-level CC fallback must produce identical components on a
    small-vocabulary corpus that qualifies for both."""
    from market_insights_app_spark.operators import dedup as D

    words = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        (i, " ".join(words[j] for j in range(5) if (i >> j) & 1 or j == i % 5))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    dense = {
        (r["id"], r["cluster"])
        for r in D.jaccard_clusters(df, threshold=0.6).collect()
    }
    # force the token-join fallback for both the pair and cluster paths
    monkeypatch.setattr(D, "_dense_jaccard_pairs", lambda *a, **k: None)
    monkeypatch.setattr(D, "_dense_mask_clusters", lambda *a, **k: None)
    token = {
        (r["id"], r["cluster"])
        for r in D.jaccard_clusters(df, threshold=0.6).collect()
    }
    assert dense == token
    assert dense  # corpus built to contain duplicates


# --- exact substring-span dedup (Lee et al. 2022 ExactSubstr form) ---------


def _span_rows(spark, texts, L=3):
    from market_insights_app_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(list(enumerate(texts, 1)), ["doc_id", "text"])
    return {r.doc_id: r for r in span_dedup(df, span_tokens=L).collect()}


def test_span_dedup_removes_repeated_span(spark):
    # doc 2 repeats doc 1's "a b c" 3-gram: its covered tokens vanish
    got = _span_rows(spark, ["a b c x", "y a b c z"], L=3)
    assert got[1].n_removed == 0 and got[1].text_dedup == "a b c x"
    assert got[2].n_removed == 3
    assert got[2].text_dedup == "y z"


def test_span_dedup_merges_overlapping_spans(spark):
    # doc 2 contains "a b c d": grams "a b c" and "b c d" are both dups
    # (doc 1 has them), overlapping spans merge → 4 tokens removed
    got = _span_rows(spark, ["a b c d", "q a b c d r"], L=3)
    assert got[2].n_removed == 4
    assert got[2].text_dedup == "q r"


def test_span_dedup_first_occurrence_wins(spark):
    # within ONE doc the second occurrence of the gram is removed
    got = _span_rows(spark, ["a b c x a b c"], L=3)
    assert got[1].n_removed == 3
    assert got[1].text_dedup == "a b c x"


def test_span_dedup_short_docs_untouched(spark):
    got = _span_rows(spark, ["a b", "a b"], L=3)
    assert got[1].n_removed == 0 and got[2].n_removed == 0


def test_span_dedup_fully_covered_doc_empties(spark):
    got = _span_rows(spark, ["a b c", "a b c"], L=3)
    assert got[2].n_removed == 3 and got[2].text_dedup == ""
    assert got[2].n_tokens == 3


def test_mask_cc_driver_and_distributed_lanes_agree(spark, monkeypatch):
    """The driver-numpy mask-component lane (≤ _DENSE_CC_DRIVER_CAP
    masks) and the distributed crossJoin + iterative-CC lane must
    produce identical cluster assignments."""
    from market_insights_app_spark.operators import dedup as D

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = [
        (i, " ".join(words[j] for j in range(6) if (i >> j) & 1 or j == i % 6))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    driver = {
        (r["id"], r["cluster"])
        for r in D.jaccard_clusters(df, threshold=0.6).collect()
    }
    monkeypatch.setattr(D, "_DENSE_CC_DRIVER_CAP", 0)  # force distributed
    dist = {
        (r["id"], r["cluster"])
        for r in D.jaccard_clusters(df, threshold=0.6).collect()
    }
    assert driver == dist
    assert driver


def test_mask_components_numpy_golden():
    from market_insights_app_spark.operators.dedup import (
        _mask_components_numpy,
    )

    # 0b0011 vs 0b0111: J=2/3 >= 0.5 -> linked; 0b1000 isolated;
    # 0b0110 links to 0b0111 (J=2/3) and 0b0011 (J=1/3, no edge) but
    # joins their component transitively via 0b0111
    got = dict(_mask_components_numpy([0b0011, 0b0111, 0b1000, 0b0110], 0.5))
    assert got == {0b0011: 0b0011, 0b0111: 0b0011, 0b0110: 0b0011}
    assert _mask_components_numpy([], 0.5) == []
    # negative masks (bit 63 set) keep exact bit semantics
    neg = -(1 << 63) | 0b11            # bits {0,1,63}
    neg2 = -(1 << 63) | 0b01           # bits {0,63}: J=2/3
    got = dict(_mask_components_numpy([neg, neg2], 0.5))
    assert got == {neg: neg2, neg2: neg2}  # min long is neg2
