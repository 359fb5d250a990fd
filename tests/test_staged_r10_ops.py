"""Semantic shape tests for the r10/r11-registered queries
(hard_negatives / kfold_column / temperature_mixture / split_leakage)
and the no-action lane gates of their operators.  Their Spark<->DuckDB
hash gate is test_oracle_parity, like every registered pair; the
unicode and degenerate-input sweeps cover them too
(test_unicode_parity.py / test_degenerate_inputs.py)."""

from __future__ import annotations

from tests.conftest import SF_ORACLE


def test_hard_negatives_shape(spark):
    """Ranks are 1..k dense per anchor and labels always differ from
    the anchor's (anchor label = anchor_id mod 7 by construction)."""
    from market_insights_app_spark.plans.textml import q_hard_negatives

    rows = q_hard_negatives(spark, SF_ORACLE).collect()
    assert rows
    by_anchor: dict = {}
    for r in rows:
        by_anchor.setdefault(r.anchor_id, []).append(r)
        assert r.label != r.anchor_id % 7
        assert r.vec_id != r.anchor_id
    for aid, grp in by_anchor.items():
        assert sorted(x.rank for x in grp) == list(range(1, len(grp) + 1))
        assert len(grp) <= 5


def test_kfold_uniform_and_group_pure(spark):
    """fold_by_source is constant within a source (the leakage-safe
    law) and fold_by_doc spreads across all 5 folds."""
    from market_insights_app_spark.plans.textml import q_kfold_column

    rows = q_kfold_column(spark, SF_ORACLE).collect()
    per_source: dict = {}
    folds = set()
    for r in rows:
        per_source.setdefault(r.source, set()).add(r.fold_by_source)
        folds.add(r.fold_by_doc)
    assert all(len(v) == 1 for v in per_source.values())
    assert folds == set(range(5))


def test_temperature_mixture_shares(spark):
    """alpha=0.5 up-weights small sources RELATIVE to their size: the
    surviving share of the smallest source must exceed the share of
    the largest (the temperature contract), and no group is empty."""
    from pyspark.sql import functions as F

    from market_insights_app_spark.plans.textml import q_temperature_mixture

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    before = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    after: dict = {}
    for r in q_temperature_mixture(spark, SF_ORACLE).collect():
        after[r.source] = after.get(r.source, 0) + 1
    assert set(after) == set(before)
    small = min(before, key=before.get)
    large = max(before, key=before.get)
    if before[small] < before[large]:
        assert after[small] / before[small] > after[large] / before[large]


def test_neardup_lane_gate_runs_no_action(spark, monkeypatch):
    """cosine_self_join_neardup's default lane choice must not run a
    count() (or any action) over the corpus — the r10 fix mirroring
    hard_negatives': an extra full scan just to pick a lane is real
    money at 100 TB."""
    from pyspark.sql import DataFrame

    from market_insights_app_spark.operators.similarity import (
        cosine_self_join_neardup,
    )

    counted = []
    orig = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count", lambda self: counted.append(self) or orig(self)
    )
    df = spark.createDataFrame(
        [(i, i % 3, [1.0, float(i % 5)]) for i in range(12)],
        "vec_id long, label int, embedding array<float>",
    )
    out = cosine_self_join_neardup(df, "label", 0.5)  # default lane
    assert not counted, "lane gate ran DataFrame.count()"
    assert out.count() >= 0  # the plan itself still executes


def test_hard_negatives_sequential_chunks_release_broadcasts(spark):
    """Multi-chunk mining must hold at most ONE anchor panel at a time:
    every broadcast except the last chunk's is destroyed before the
    plan returns (the r10 ADVICE fix — total panel residency is
    O(anchor_chunk), not O(total anchors))."""
    from pyspark.broadcast import Broadcast

    import market_insights_app_spark.operators.similarity as sim

    created: list = []
    destroyed: list = []
    orig_bc = sim._hard_negative_candidates

    def spy_candidates(p, a_rows, k, panel_block=None):
        cand, bc = orig_bc(p, a_rows, k, panel_block)
        created.append(bc)
        orig_destroy = bc.destroy
        bc.destroy = lambda *a, **kw: destroyed.append(bc) or orig_destroy()
        return cand, bc

    pool = spark.createDataFrame(
        [(i, [1.0, float(i % 7)], i % 3) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    anchors = spark.createDataFrame(
        [(100 + j, [1.0, float(j % 7)], j % 3) for j in range(9)],
        "vec_id long, embedding array<float>, label int",
    )
    import unittest.mock as mock

    with mock.patch.object(
        sim, "_hard_negative_candidates", spy_candidates
    ):
        out = sim.hard_negatives(pool, anchors, k=2, anchor_chunk=3)
        n_rows = out.count()
    assert len(created) == 3  # 9 anchors / chunk 3
    # all but the last panel were destroyed before the plan returned
    assert destroyed == created[:-1]
    assert n_rows > 0
