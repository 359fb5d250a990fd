"""Unit tests for the round-3 operators: BM25 / RRF retrieval,
deterministic corpus shuffle, unigram-LM quality, k-means clustering.
(The DuckDB differential gate runs separately in test_oracle_parity.)
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from market_insights_app_spark.operators.clustering import (
    assign_clusters,
    kmeans_assign,
    kmeans_fit,
)
from market_insights_app_spark.operators.quality import unigram_logprob
from market_insights_app_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
    rrf_fuse,
)
from market_insights_app_spark.operators.sampling import shard_assign


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (0, "apple banana apple"),
        (1, "apple banana banana cherry"),
        (2, "cherry cherry cherry durian"),
        (3, "banana banana banana banana"),
        (4, "durian"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _bm25_ref(corpus, terms, k1=1.2, b=0.75):
    """Independent plain-Python BM25 for the tiny corpus."""
    toks = {d: t.split() for d, t in corpus}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for t in terms:
        df = sum(1 for v in toks.values() if t in v)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, v in toks.items():
            tf = v.count(t)
            if not tf:
                continue
            dl = len(v)
            out[d] = out.get(d, 0.0) + idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * dl / avgdl)
            )
    return {d: round(s, 6) for d, s in out.items()}


def test_bm25_matches_python_reference(tiny_docs):
    corpus = [(r["doc_id"], r["text"]) for r in tiny_docs.collect()]
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(tiny_docs, ["apple", "durian"]).collect()
    }
    assert got == _bm25_ref(corpus, ["apple", "durian"])


def test_bm25_rare_term_outranks_common(tiny_docs):
    # 'durian' appears in 2 docs, 'banana' in 3 — a pure-durian doc
    # must outrank a pure-banana doc for the query containing both
    top = bm25_topk(tiny_docs, "durian banana", k=5).collect()
    score = {r["doc_id"]: r["bm25"] for r in top}
    assert score[4] > score[3]  # doc 4 is only 'durian'


def test_bm25_no_hit_docs_absent(tiny_docs):
    got = bm25_scores(tiny_docs, ["apple"]).collect()
    assert {r["doc_id"] for r in got} == {0, 1}


def test_rrf_fusion_known_case(spark):
    lex = spark.createDataFrame(
        [(10, 5.0), (11, 4.0), (12, 3.0)], ["doc_id", "bm25"]
    )
    sem = spark.createDataFrame(
        [(11, 0.9), (13, 0.8)], ["vec_id", "cosine"]
    )
    got = {r["doc_id"]: r for r in rrf_fuse(lex, sem, k=10).collect()}
    # doc 11: rank 2 lexical, rank 1 semantic
    assert got[11]["r_lex"] == 2 and got[11]["r_sem"] == 1
    assert got[11]["rrf"] == round(1 / 62 + 1 / 61, 6)
    # doc 10: lexical only; doc 13: semantic only
    assert got[10]["r_sem"] is None
    assert got[10]["rrf"] == round(1 / 61, 6)
    assert got[13]["r_lex"] is None
    # fused order: 11 first (two contributions)
    ordered = sorted(got.values(), key=lambda r: -r["rrf"])
    assert ordered[0]["doc_id"] == 11


def test_shard_assign_permutation_properties(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = shard_assign(df, n_shards=8).collect()
    assert len(out) == 1000
    shards = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        shards.setdefault(r["shard"], []).append(r["pos"])
    # every shard's positions are exactly 1..len (contiguous rank)
    for positions in shards.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # roughly uniform occupancy (1000/8 = 125 expected)
    sizes = [len(v) for v in shards.values()]
    assert len(sizes) == 8 and min(sizes) > 80 and max(sizes) < 170


def test_shard_assign_deterministic_and_partition_stable(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {(r["doc_id"]): (r["shard"], r["pos"]) for r in shard_assign(df).collect()}
    b = {
        (r["doc_id"]): (r["shard"], r["pos"])
        for r in shard_assign(df.repartition(13)).collect()
    }
    assert a == b


def test_unigram_logprob_rare_tokens_score_low(spark):
    # 9 docs of common filler + 1 doc of singleton rare tokens
    rows = [(i, "common words repeat here always") for i in range(9)]
    rows.append((9, "zygote quixotic ephemera"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in unigram_logprob(df, low_quality_below=-3.0).collect()}
    common_scores = [got[i]["avg_logprob"] for i in range(9)]
    assert got[9]["avg_logprob"] < min(common_scores)
    assert got[9]["low_quality"] is True
    assert all(not got[i]["low_quality"] for i in range(9))
    # exact value: rare doc = avg ln(1/48) over 3 tokens (45 + 3 total)
    assert got[9]["avg_logprob"] == round(math.log(1 / 48), 6)


def test_kmeans_separates_blobs(spark):
    # two tight blobs far apart -> 2-means must recover them exactly
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        center = 0.0 if i % 2 == 0 else 100.0
        rows.append(
            (i, [center + rng.uniform(-1, 1) for _ in range(4)])
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_assign(df, k=2, iters=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"])
    assert len(by_cluster) == 2
    evens = {i for i in range(40) if i % 2 == 0}
    odds = set(range(40)) - evens
    assert by_cluster[0] in (evens, odds) and by_cluster[1] in (evens, odds)
    assert by_cluster[0] != by_cluster[1]
    # within-blob distances are small after convergence
    assert all(r["dist2"] < 16.0 for r in out)


def test_kmeans_fit_deterministic(spark):
    rows = [(i, [float(i % 5), float((i * 7) % 11)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    c1 = kmeans_fit(df, k=3, iters=2)
    c2 = kmeans_fit(df.repartition(9), k=3, iters=2)
    assert c1 == c2


def test_kmeans_ties_break_to_lower_cluster(spark):
    # a point equidistant from two centroids joins the lower cluster id
    df = spark.createDataFrame([(0, [5.0, 0.0])], ["vec_id", "embedding"])
    got = assign_clusters(df, [[0.0, 0.0], [10.0, 0.0]]).collect()[0]
    assert got["cluster"] == 0 and got["dist2"] == 25.0


def test_kmeans_clamps_k_to_corpus_size(spark):
    """k > n must CLAMP (each point its own cluster), not abort — a
    tiny filtered shard is routine at scale (r7 single-row sweep)."""
    df = spark.createDataFrame([(0, [1.0])], ["vec_id", "embedding"])
    cents = kmeans_fit(df, k=2)
    assert cents == [[1.0]]


def test_assign_large_k_pandas_path_matches_expression_path(spark):
    """The broadcast-numpy assignment (k > LARGE_K) and the literal-
    expression assignment must agree off fp near-ties — same data, same
    centroids, both paths."""
    from market_insights_app_spark.operators import clustering

    rows = [
        (i, [float((i * 13 + j * 7) % 29) / 29.0 for j in range(8)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [r[1] for r in rows[:150]]
    pa = {
        r["vec_id"]: r["cluster"]
        for r in clustering._assign_pandas(df, cents, "vec_id", "embedding").collect()
    }
    from pyspark.sql import functions as F

    ex = {
        r["vec_id"]: r["cluster"]
        for r in df.select(
            "vec_id",
            clustering._best_struct(
                clustering._as_double(F.col("embedding")), cents
            )["c"].alias("cluster"),
        ).collect()
    }
    assert pa == ex


def test_semdedup_large_k_pandas_screen_matches_jvm(spark):
    """semdedup's applyInPandas in-cluster screen (k > LARGE_K) drops
    exactly the rows the JVM self-join path drops."""
    from market_insights_app_spark.operators import clustering
    from market_insights_app_spark.operators.similarity import semdedup

    # 60 base vectors + 60 exact duplicates with higher ids → every
    # duplicate must drop regardless of path
    base = [
        (i, [float((i * 11 + j * 3) % 17) / 17.0 + 1.0 for j in range(6)])
        for i in range(60)
    ]
    dups = [(i + 1000, v) for i, v in base]
    df = spark.createDataFrame(base + dups, ["vec_id", "embedding"])
    small = semdedup(df, k=8, iters=1, threshold=0.999999)
    old = clustering.LARGE_K
    try:
        clustering.LARGE_K = 4  # force the pandas screen at the same k
        large = semdedup(df, k=8, iters=1, threshold=0.999999)
    finally:
        clustering.LARGE_K = old
    s = {tuple(r) for r in small.collect()}
    l = {tuple(r) for r in large.collect()}
    assert s == l
    survivors = {r[0] for r in s}
    assert survivors  # something survives
    # every exact duplicate (higher id, identical vector) must drop
    assert not (survivors & {i + 1000 for i, _ in base})


def test_semdedup_probe_lanes_identical(spark):
    """The broadcast-probe and sort-merge self-join lanes return the
    exact same surviving set — the join strategy changes the exchange,
    never the pair predicate (r11 lane-gate standard)."""
    from market_insights_app_spark.operators.similarity import semdedup

    rows = [
        (i, [float((i * 7 + j * 5) % 13) / 13.0 + 0.5 for j in range(6)])
        for i in range(40)
    ] + [(i + 500, [float((i * 7 + j * 5) % 13) / 13.0 + 0.5 for j in range(6)])
         for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b = {tuple(r) for r in
         semdedup(df, k=4, iters=1, threshold=0.999999,
                  broadcast_probe=True).collect()}
    s = {tuple(r) for r in
         semdedup(df, k=4, iters=1, threshold=0.999999,
                  broadcast_probe=False).collect()}
    assert b == s and b


def test_semdedup_default_path_runs_no_corpus_action(spark, monkeypatch):
    """The lane hint must come from the pre-checkpoint Catalyst size
    estimate, never a count()/collect-style job over the corpus: with
    DataFrame.count forbidden, the default semdedup path (explicit k)
    still plans and executes."""
    from pyspark.sql import DataFrame as _DF

    from market_insights_app_spark.operators.similarity import semdedup

    df = spark.createDataFrame(
        [(i, [float(i % 5 + j) for j in range(4)]) for i in range(30)],
        ["vec_id", "embedding"],
    )

    def _no_count(self):
        raise AssertionError("corpus-side count() in semdedup lane gate")

    monkeypatch.setattr(_DF, "count", _no_count)
    out = semdedup(df, k=3, iters=1, threshold=0.99).collect()
    assert out


def test_dsir_ranks_target_like_docs_higher(spark):
    """DSIR semantics: raw docs wording-identical to the target corpus
    must outweigh ones with disjoint vocabulary."""
    from market_insights_app_spark.operators.sampling import dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps again"),
            (2, "zzz qqq völlig anderes vokabular hier"),
            (3, "lazy dog and quick fox"),
        ],
        ["doc_id", "text"],
    )
    w = {r["doc_id"]: r["weight"] for r in dsir_weights(raw, target).collect()}
    assert w[1] > w[2] and w[3] > w[2]


def test_round6_ge_cutoff_replays_jvm_round_compare():
    """The half-line cutoff must agree with literal HALF_UP-on-
    shortest-repr rounding (Spark's round(double, 6) semantics,
    verified on this build) for every x, including exact half-way
    shortest representations on both sides of zero."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from market_insights_app_spark.operators.similarity import (
        _round6_ge_cutoff,
    )

    def jvm_round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    rng = random.Random(13)
    xs = [
        float("0.3999995"),
        math.nextafter(float("0.3999995"), -math.inf),
        math.nextafter(float("0.3999995"), math.inf),
        float("0.9499995"),
        float("-0.0000005"),
        math.nextafter(float("-0.0000005"), math.inf),
        float("-0.3999995"),
        0.0,
        1.0,
        -1.0,
    ] + [rng.uniform(-1.001, 1.001) for _ in range(2000)]
    for t in (0.95, 0.4, 0.0, -0.4, 0.123456, 1.0):
        c = _round6_ge_cutoff(t)
        for x in xs:
            want = jvm_round6(x) >= t
            got = x >= c
            assert got == want, (t, repr(x), c)


def _unit_partner(c: float) -> list | None:
    """A vector [c, y] whose JVM-fold norm is EXACTLY 1.0, so
    cosine([1,0],[c,y]) replays as exactly c through the engine's
    index-ordered folds (dot = c, den = 1·1).  Python floats ARE IEEE
    doubles, so replicating the fold op-for-op here predicts the
    engine bit-for-bit.  Returns None when no ulp-neighbor of
    √(1−c²) makes the folded sum land on 1.0 exactly."""
    import math

    y0 = math.sqrt(max(0.0, 1.0 - c * c))
    up = dn = y0
    cands = [y0]
    for _ in range(200):
        up = math.nextafter(up, math.inf)
        dn = math.nextafter(dn, 0.0)
        cands += [up, dn]
    for y in cands:
        if 0.0 + c * c + y * y == 1.0:
            return [c, y]
    return None


def test_semdedup_default_dense_screen_bit_identical_to_jvm(spark):
    """The r13 default (dense Arrow screen) must return EXACTLY the
    JVM pair-probe survivors — including at a constructed cosine that
    is an exact half-way shortest repr at the 6 dp grain, where any
    np.round/summation-order deviation would flip the decision."""
    import math

    from market_insights_app_spark.operators.similarity import semdedup

    b = float("0.3999995")             # rounds UP to 0.400000 (HALF_UP)
    vb = _unit_partner(b)
    # below-the-boundary case: walk down ulps until a unit partner
    # exists (everything strictly below b rounds DOWN to 0.399999)
    lo, vlo = b, None
    for _ in range(32):
        lo = math.nextafter(lo, -math.inf)
        vlo = _unit_partner(lo)
        if vlo is not None:
            break
    assert vb is not None and vlo is not None  # constructions exist

    def survivors(rows):
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        # k=1 puts every row in one cluster -> the screen decides alone
        dense = {
            tuple(r)
            for r in semdedup(df, k=1, iters=1, threshold=0.4).collect()
        }
        jvm = {
            tuple(r)
            for r in semdedup(
                df, k=1, iters=1, threshold=0.4, broadcast_probe=False
            ).collect()
        }
        assert dense == jvm, (dense, jvm)
        return {r[0] for r in dense}

    # exact half-way cosine vs the lower-id anchor: HALF_UP drops it
    ids = survivors([(0, [1.0, 0.0]), (1, vb), (2, [0.0, 0.0])])
    assert 1 not in ids      # boundary cosine rounds up -> dropped
    assert 2 in ids          # zero-norm survives (matches nothing)

    # one ulp below the half-way point: kept
    ids = survivors([(0, [1.0, 0.0]), (1, vlo)])
    assert 1 in ids

    # exact duplicates of the anchor: all higher ids drop
    ids = survivors([(0, [1.0, 0.0])] + [(10 + i, [1.0, 0.0])
                                         for i in range(4)])
    assert ids == {0}
