"""End-to-end pretraining-corpus pipeline (pipelines/pretrain_corpus):
integration invariants + composition determinism under a different
parallelism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from market_insights_app_spark.pipelines.pretrain_corpus import (
    build_pretraining_corpus,
)
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def built(spark):
    out = build_pretraining_corpus(spark, SF_ORACLE)
    corpus = out["corpus"].collect()
    manifest = sorted(tuple(r) for r in out["manifest"].collect())
    eval_ids = {r.doc_id for r in out["eval_set"].select("doc_id").collect()}
    return corpus, manifest, eval_ids


def test_pipeline_structural_invariants(spark, built):
    corpus, manifest, eval_ids = built
    assert len(corpus) > 0
    ids = [r.doc_id for r in corpus]
    assert len(ids) == len(set(ids))  # no duplicate ids survive
    assert not (set(ids) & eval_ids)  # eval slice never leaks in
    assert {r.split for r in corpus} <= {"train", "val"}
    assert all(0 <= r.shard < 8 for r in corpus)
    # per-shard positions are a contiguous 1..n ranking
    by_shard: dict[int, list[int]] = {}
    for r in corpus:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # manifest covers exactly the splits with matching row counts
    split_counts = {s: sum(1 for r in corpus if r.split == s) for s in
                    {r.split for r in corpus}}
    assert {m[0]: m[1] for m in manifest} == split_counts
    # distinct-id tripwire agrees (no dups -> equal counts)
    assert all(m[1] == m[2] for m in manifest)


def test_pipeline_decontamination_holds(spark, built):
    """No surviving corpus doc shares a 3-gram with the eval set —
    recomputed independently over the pipeline output."""
    corpus, _, eval_ids = built
    from market_insights_app_spark.functions.text import word_shingles

    docs = spark.createDataFrame(
        [(r.doc_id, r.text) for r in corpus], ["doc_id", "text"]
    )
    ev = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").filter(
        F.col("doc_id").isin([int(i) for i in eval_ids])
    )
    overlap = (
        docs.select(F.explode(word_shingles("text", 3)).alias("g"))
        .join(
            ev.select(F.explode(word_shingles("text", 3)).alias("g")).distinct(),
            "g",
        )
        .count()
    )
    assert overlap == 0


def test_pipeline_composition_deterministic_across_parallelism(spark, built):
    """Same inputs -> bit-identical manifest under a different shuffle
    partitioning (the composition inherits every stage's determinism)."""
    _, manifest, _ = built
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = sorted(
            tuple(r)
            for r in build_pretraining_corpus(spark, SF_ORACLE)["manifest"].collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert again == manifest


# --- cross-split leakage auditor (operators/dedup.split_leakage_report) -----


def test_split_leakage_report_golden(spark):
    from market_insights_app_spark.operators.dedup import split_leakage_report

    docs = spark.createDataFrame(
        [
            # exact dup ACROSS splits (1,2) + exact dup WITHIN train (1,3)
            (1, "alpha beta gamma delta epsilon", "train"),
            (2, "alpha beta gamma delta epsilon", "val"),
            (3, "alpha beta gamma delta epsilon", "train"),
            # near dup across splits: one word changed out of eight
            (4, "one two three four five six seven eight", "train"),
            (5, "one two three four five six seven NINE", "val"),
            # unrelated
            (6, "totally different content lives here", "val"),
        ],
        ["doc_id", "text", "split"],
    )
    got = {
        (r.rule, r.split_a, r.split_b): r
        for r in split_leakage_report(docs, threshold=0.4).collect()
    }
    ex = got[("exact", "train", "val")]
    assert ex.n_pairs == 2  # (1,2) and (2,3) cross; (1,3) is within-split
    assert (ex.example_a, ex.example_b) == (1, 2)
    near = got[("near", "train", "val")]
    # exact pairs report once, under the stronger rule — near is (4,5) only
    assert near.n_pairs == 1 and (near.example_a, near.example_b) == (4, 5)
    # nothing else leaks
    assert set(got) == {("exact", "train", "val"), ("near", "train", "val")}


def test_pipeline_output_has_zero_leakage(spark, built):
    """The law: dedup_corpus at threshold t + split afterwards ⇒ the
    leakage audit at the same t is EMPTY (exact dups are a subset of
    near dups at any threshold)."""
    from market_insights_app_spark.operators.dedup import split_leakage_report

    corpus, _, _ = built
    docs = spark.createDataFrame(
        [(r.doc_id, r.text, r.split) for r in corpus],
        ["doc_id", "text", "split"],
    )
    rows = split_leakage_report(docs, threshold=0.5).collect()
    assert rows == []
