"""r9-registered operators: semantic decontamination (similarity.py)
and Flesch readability (quality.py) — goldens vs hand-computed values,
edge-case containment, and direct Spark<->DuckDB parity for both pairs
(pagerank's twin lives in test_graph.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from market_insights_app_spark.operators.quality import readability_report
from market_insights_app_spark.operators.similarity import (
    semantic_decontaminate,
)
from tests import cosine_models
from tests.cosine_models import f32_rows
from tests.conftest import SF_ORACLE
from tests.test_oracle_parity import canon


def _vecdf(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_semantic_decontaminate_golden(spark):
    ev = _vecdf(spark, [(0, [1.0, 0.0]), (20, [0.0, 1.0])])
    tr = _vecdf(
        spark,
        [
            (1, [1.0, 0.0]),       # exact dup of eval 0
            (2, [1.0, 1.0]),       # cos 1/sqrt(2) to both -> nearest eid 0
            (3, [-1.0, 0.0]),      # cos -1 / 0 -> nearest is eval 20 at 0
        ],
    )
    out = {
        r.vec_id: r
        for r in semantic_decontaminate(tr, ev, threshold=0.9).collect()
    }
    assert out[1].nearest_eval_id == 0 and out[1].max_cosine == 1.0
    assert out[1].contaminated is True
    assert out[2].nearest_eval_id == 0  # tie on cosine -> LOWEST eval id
    assert out[2].max_cosine == round(1 / math.sqrt(2), 6)
    assert out[2].contaminated is False
    assert out[3].nearest_eval_id == 20 and out[3].max_cosine == 0.0


def test_semantic_decontaminate_zero_norm_sentinel(spark):
    ev = _vecdf(spark, [(0, [1.0, 0.0])])
    tr = _vecdf(spark, [(1, [0.0, 0.0])])
    row = semantic_decontaminate(tr, ev, threshold=0.5).collect()[0]
    assert row.max_cosine == -2.0 and row.contaminated is False


def test_semantic_decontaminate_empty_eval_set(spark):
    ev = _vecdf(spark, [])
    tr = _vecdf(spark, [(1, [1.0, 0.0])])
    # nothing to compare against -> no verdict rows (not a crash)
    assert semantic_decontaminate(tr, ev).collect() == []


def test_readability_goldens(spark):
    docs = spark.createDataFrame(
        [
            # 4 words, 2 sentences, 4 vowel groups (to, be, or, not:
            # o/e/o/o) -> w/s=2, syl/w=1
            (0, "to be. or not!"),
            (1, ""),                 # empty -> NULL score and band
            (2, None),               # NULL text counts as empty
            (3, "xz qrst"),          # no vowels (y counts!): 2 w, 0 syl
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in readability_report(docs).collect()}
    r0 = out[0]
    assert (r0.n_words, r0.n_sentences, r0.n_syllable_groups) == (4, 2, 4)
    assert r0.flesch == 206.835 - 1.015 * 2.0 - 84.6 * 1.0
    assert r0.band == "very_easy"
    for i in (1, 2):
        assert out[i].n_words == 0
        assert out[i].flesch is None and out[i].band is None
    r3 = out[3]
    assert r3.n_syllable_groups == 0
    assert r3.flesch == 206.835 - 1.015 * 2.0
    assert r3.band == "very_easy"


def test_readability_band_thresholds(spark):
    # craft word/sentence/syllable counts that land in each band:
    # flesch = 206.835 - 1.015*w - 84.6*(syl/w) with 1 sentence
    docs = spark.createDataFrame(
        [(0, "aa aa aa"), (1, "aaaa eeee iiii oooo a e i o")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in readability_report(docs).collect()}
    # doc 0: w=3, s=1, syl=3 -> 206.835 - 3.045 - 84.6 = 119.19 very_easy
    assert out[0].band == "very_easy"
    # doc 1: w=8, s=1, syl=8 -> 206.835 - 8.12 - 84.6 = 114.115 very_easy
    assert out[1].band == "very_easy"
    heavy = " ".join(["strengths"] * 30) + "."
    d2 = spark.createDataFrame([(2, heavy)], "doc_id long, text string")
    r2 = readability_report(d2).collect()[0]
    # w=30, s=1, syl=30 -> 206.835 - 30.45 - 84.6 = 91.785 -> very_easy;
    # long sentences alone push the score down through the bands
    assert r2.flesch < 100


def test_parity_semantic_decontaminate(spark, duck):
    from market_insights_app_spark.plans.textml import (
        TEXTML_ORACLES,
        q_semantic_decontaminate,
    )

    sdf = q_semantic_decontaminate(spark, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(TEXTML_ORACLES["semantic_decontaminate"])
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows) > 0
    assert canon(srows, sdf.columns) == canon(drows, dcols)
    for col, typ in zip(rel.columns, rel.types):
        assert str(typ) in {"BIGINT", "DOUBLE", "BOOLEAN"}, (col, str(typ))
    # the gate discriminates: both verdicts present at the oracle SF
    flags = {r[3] for r in drows}
    assert flags == {True, False}


def test_parity_readability(spark, duck):
    from market_insights_app_spark.plans.textml import (
        TEXTML_ORACLES,
        q_readability,
    )

    sdf = q_readability(spark, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(TEXTML_ORACLES["readability"])
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows) > 0
    assert canon(srows, sdf.columns) == canon(drows, dcols)
    for col, typ in zip(rel.columns, rel.types):
        assert str(typ) in {"BIGINT", "DOUBLE", "VARCHAR"}, (col, str(typ))


def test_semantic_decontaminate_lanes_bit_equal(spark):
    """The Arrow kernel accumulates dots in dimension order — the
    exact IEEE operation sequence of the JVM fold — so it must agree
    BIT FOR BIT with the pure-Python replay of the JVM expression
    (``cosine_models.decontaminate``), including on engineered ties
    (duplicate eval vectors: argmax must break to the lowest eval id)
    and the zero-norm sentinel."""
    import random

    rng = random.Random(99)
    dim = 16
    tr_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(60)
    ] + [(60, [0.0] * dim)]
    shared = [rng.uniform(-1, 1) for _ in range(dim)]
    ev_rows = [
        (100, shared),
        (101, shared),  # exact duplicate: tie -> eid 100 must win
        (102, [rng.uniform(-1, 1) for _ in range(dim)]),
        (103, [0.0] * dim),  # zero-norm eval: sentinel pair
    ]
    tr, ev = _vecdf(spark, tr_rows), _vecdf(spark, ev_rows)
    a = sorted(
        tuple(r) for r in semantic_decontaminate(tr, ev, 0.5).collect()
    )
    assert a == cosine_models.decontaminate(
        f32_rows(tr_rows), f32_rows(ev_rows), 0.5
    )
    assert all(r[1] != 101 for r in a)  # dup tie never picks the higher id
    zero = [r for r in a if r[0] == 60][0]
    assert zero.count(-2.0) == 1  # zero-norm train row carries the sentinel
    # eval-panel chunking must not change anything — force panels
    # SMALLER than the eval set so the running fold crosses panel
    # boundaries, including the duplicate-eval tie pair split check
    import market_insights_app_spark.operators.similarity as sim

    best = sim._decontaminate_dense(
        tr.select(
            F.col("vec_id").alias("id"),
            sim._as_double(F.col("embedding")).alias("v"),
        ).withColumn("nrm", sim.norm(F.col("v"))),
        [(r[0], list(r[1])) for r in ev.select("vec_id", "embedding").collect()],
        eval_chunk=1,
    )
    chunked = sorted(
        tuple(r)
        for r in best.select(
            F.col("id").alias("vec_id"),
            F.col("eid").alias("nearest_eval_id"),
            F.round(F.col("raw"), 6).alias("max_cosine"),
            (F.round(F.col("raw"), 6) >= F.lit(0.5)).alias("contaminated"),
        ).collect()
    )
    assert chunked == a


def test_semantic_decontaminate_is_broadcast_no_shuffle_on_corpus(spark):
    """The pair stage may not sort or shuffle the corpus: it is a
    map-only Arrow stage over the corpus scan."""
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    ev = emb.filter(F.col("vec_id") % 20 == 0)
    tr = emb.filter(F.col("vec_id") % 20 != 0)
    # no join at all — the eval matrix is a TorrentBroadcast inside
    # the Arrow closure
    dplan = semantic_decontaminate(
        tr, ev, threshold=0.4
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in dplan or "FlatMapGroupsInPandas" in dplan
    assert "SortMergeJoin" not in dplan
    assert "Exchange" not in dplan.split("HashAggregate")[0], (
        "corpus must reach the Arrow stage without a shuffle"
    )


def test_hard_negatives_mining(spark):
    """Hard negatives: per anchor the k nearest DIFFERENT-label pool
    vectors, hardest first, same-id and same-label excluded, zero-norm
    pairs dropped, deterministic tie-break on the lower pool id."""
    from market_insights_app_spark.operators.similarity import hard_negatives

    def vl(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    pool = vl(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.99, 0.1], 1),   # closest wrong-label to anchor 0
            (2, [0.9, 0.3], 1),
            (3, [0.0, 1.0], 1),    # orthogonal
            (4, [1.0, 0.0], 0),    # same label: never a negative for 0
            (5, [0.99, 0.1], 1),   # exact dup of 1: tie -> id 1 first
            (6, [0.0, 0.0], 1),    # zero norm: dropped
        ]
    )
    anchors = vl([(0, [1.0, 0.0], 0)])
    got = hard_negatives(pool, anchors, k=3).collect()
    assert [(r.rank, r.vec_id) for r in got] == [(1, 1), (2, 5), (3, 2)]
    assert all(r.label == 1 for r in got)
    assert got[0].cosine == got[1].cosine  # the engineered tie
    # anchor present in the pool: its own id is excluded even though
    # the label filter alone would already drop it here
    pool2 = pool.union(anchors)
    got2 = hard_negatives(pool2, anchors, k=10).collect()
    assert all(r.vec_id != 0 for r in got2)
    # empty anchor set -> empty result, not a crash
    assert hard_negatives(pool, vl([]), k=3).collect() == []


def test_hard_negatives_lanes_bit_equal(spark):
    """Mining must agree bit for bit with the pure-Python replay of the
    JVM expression (``cosine_models.hard_negatives``):
    dimension-ordered panels + local per-anchor top-k under the exact
    global order is a superset of the winners, and ranking runs on
    unrounded raw cosines."""
    import random

    from market_insights_app_spark.operators.similarity import hard_negatives

    rng = random.Random(7)
    dim = 12
    pool_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 4)
        for i in range(200)
    ] + [(200, [0.0] * dim, 1)]
    shared = [rng.uniform(-1, 1) for _ in range(dim)]
    pool_rows += [(201, shared, 2), (202, shared, 2)]  # engineered tie
    anchors_rows = [
        (300 + j, [rng.uniform(-1, 1) for _ in range(dim)], j % 4)
        for j in range(7)
    ] + [(310, shared, 3)]  # anchor equal to the dup pair: cosine 1 ties
    pool = spark.createDataFrame(
        pool_rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = spark.createDataFrame(
        anchors_rows, "vec_id long, embedding array<float>, label int"
    )
    for kk in (1, 4, 13):
        got = sorted(
            tuple(r) for r in hard_negatives(pool, anchors, k=kk).collect()
        )
        want = cosine_models.hard_negatives(
            f32_rows(pool_rows), f32_rows(anchors_rows), kk
        )
        assert got == want and len(got) > 0, kk
    # the dup-pair tie for anchor 310: id 201 must rank before 202
    got = {
        (r.anchor_id, r.rank): r.vec_id
        for r in hard_negatives(pool, anchors, k=2).collect()
    }
    assert got[(310, 1)] == 201 and got[(310, 2)] == 202


def test_hard_negatives_null_labels_sql_semantics(spark):
    """SQL != is NULL-excluding: NULL-label pool rows are never
    negatives and NULL-label anchors get none."""
    from market_insights_app_spark.operators.similarity import hard_negatives

    pool = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [1.0, 0.1], None), (2, [1.0, 0.2], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    anchors = spark.createDataFrame(
        [(10, [1.0, 0.0], 0), (11, [1.0, 0.0], None)],
        "vec_id long, embedding array<float>, label int",
    )
    got = hard_negatives(pool, anchors, k=5).collect()
    assert {r.anchor_id for r in got} == {10}
    assert all(r.vec_id == 2 for r in got)


def test_hard_negatives_lane_gate_runs_no_pool_action(spark, monkeypatch):
    """Building the plan must never run an action over the pool (the
    unbounded side) — r8 gated a lane choice on pool.count().
    Anchors may act (they are the bounded, chunk-streamed side)."""
    # patch the CONCRETE class (pyspark 4 dispatches through
    # pyspark.sql.classic.dataframe.DataFrame; patching the abstract
    # base makes the spy vacuous)
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from market_insights_app_spark.operators.similarity import hard_negatives

    counted = []
    orig = DataFrame.count

    def spy(self):
        counted.append(self)
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    pool = spark.createDataFrame(
        [(i, [1.0, float(i)], i % 2) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    anchors = spark.createDataFrame(
        [(100, [1.0, 0.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    df = hard_negatives(pool, anchors, k=2)  # plan built
    assert not counted, "plan build ran DataFrame.count()"
    assert df.count() > 0  # the result itself still executes


def test_hard_negatives_anchor_chunking_matches_single_panel(spark):
    """Full-corpus mining shape: chunked anchor panels (anchor_chunk
    smaller than the anchor count) must reproduce the single-panel
    result exactly — each anchor lives in exactly one chunk, so its
    window sees the complete candidate superset."""
    import random

    from market_insights_app_spark.operators.similarity import hard_negatives

    rng = random.Random(11)
    pool = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)], i % 3) for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )
    anchors = spark.createDataFrame(
        [(100 + j, [rng.uniform(-1, 1) for _ in range(6)], j % 3)
         for j in range(7)],
        "vec_id long, embedding array<float>, label int",
    )
    one = sorted(tuple(r) for r in hard_negatives(pool, anchors, k=4).collect())
    chunked = sorted(
        tuple(r)
        for r in hard_negatives(pool, anchors, k=4, anchor_chunk=2).collect()
    )
    assert one == chunked and len(one) > 0


def test_hard_negatives_panel_blocking_bit_equal_across_boundaries(
    spark, monkeypatch
):
    """The in-kernel anchor panel blocking must be invisible: shrink
    the block width so the anchor set spans MULTIPLE panels (including
    a ragged last panel) and assert bit-equality with the pure-Python
    replay of the JVM expression (``cosine_models.hard_negatives``) —
    anchors at panel edges and duplicate-cosine ties included."""
    import random

    import market_insights_app_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "_HN_PANEL_BLOCK", 3)  # 8 anchors -> 3 panels
    rng = random.Random(23)
    dim = 8
    shared = [rng.uniform(-1, 1) for _ in range(dim)]
    pool_rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], i % 3)
        for i in range(120)
    ] + [(120, shared, 1), (121, shared, 1)]  # engineered tie pair
    anchor_rows = [
        (300 + j, [rng.uniform(-1, 1) for _ in range(dim)], j % 3)
        for j in range(7)
    ] + [(310, shared, 0)]  # tie anchor lands in the ragged last panel
    pool = spark.createDataFrame(
        pool_rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = spark.createDataFrame(
        anchor_rows, "vec_id long, embedding array<float>, label int"
    )
    for kk in (1, 5):
        got = sorted(
            tuple(r)
            for r in sim.hard_negatives(pool, anchors, k=kk).collect()
        )
        want = cosine_models.hard_negatives(
            f32_rows(pool_rows), f32_rows(anchor_rows), kk
        )
        assert got == want and len(got) > 0, kk
    got = {
        (r.anchor_id, r.rank): r.vec_id
        for r in sim.hard_negatives(pool, anchors, k=2).collect()
    }
    assert got[(310, 1)] == 120 and got[(310, 2)] == 121
