"""End-to-end pretraining-corpus construction: the full path a
training-data team runs nightly, composed from this repo's operator
modules — the integration proof that the pieces snap together into one
lazy Spark plan chain.

Stages (each one linear in the corpus, shuffle inventory in the
docstring of :func:`build_pretraining_corpus`):

0. authority prior (optional) — crawl-link-graph host PageRank floor
                    (pipelines/crawl_corpus.attach_host_rank; NULL
                    prior passes — unknown is not a verdict)
1. quality gate   — Gopher-style repetition thresholds
                    (operators/quality.repetition_gate)
2. exact dedup    — content-fingerprint first-wins
                    (operators/dedup.dedup_exact_content)
3. near dedup     — MinHash-LSH → connected components → min-id
                    representative (operators/dedup.dedup_corpus)
4. decontaminate  — n-gram overlap against a held-out eval set
                    (operators/dedup.decontaminate)
5. split          — deterministic hash-fraction train/val assignment
                    (operators/sampling.hash_fraction)
6. shard          — reproducible global shuffle order
                    (operators/sampling.shard_assign)
7. manifest       — per-split release manifest with order-insensitive
                    content checksums (operators/profiling.corpus_manifest)

Everything is hash-deterministic: same inputs → identical corpus,
splits, shard order, and manifest, across reruns, partitionings and
cluster sizes (the per-stage determinism tests live with each
operator; the pipeline test pins the composition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_insights_app_spark.operators.dedup import (
    decontaminate,
    dedup_corpus,
    dedup_exact_content,
)
from market_insights_app_spark.operators.profiling import corpus_manifest
from market_insights_app_spark.operators.quality import repetition_gate
from market_insights_app_spark.operators.sampling import (
    hash_fraction,
    shard_assign,
)
from market_insights_app_spark.sources.tables import load_table


def build_pretraining_corpus(
    spark: SparkSession,
    sf_dir: str,
    eval_mod: int = 97,
    val_fraction: float = 0.1,
    n_shards: int = 8,
    near_dup_threshold: float = 0.5,
    salt: str = "pretrain-v1",
    docs: DataFrame | None = None,
    host_rank: DataFrame | None = None,
    min_host_rank: float | None = None,
) -> dict[str, DataFrame]:
    """Run the whole pipeline over ``{sf_dir}/documents.parquet`` — or
    over an explicit documents-schema ``docs`` frame (e.g. the output
    of pipelines/crawl_corpus.warc_to_documents, which makes this the
    back half of a WARC→training-corpus path);
    the held-out eval set is the deterministic ``doc_id % eval_mod``
    slice (stand-in for a benchmark suite).  Returns lazy frames:
    ``corpus`` (with ``split``, ``shard``, ``pos``), ``eval_set``,
    and ``manifest`` (one row per split).

    ``host_rank`` (optional) is a (host, host_pagerank) authority
    table — pipelines/crawl_corpus.host_pagerank over the crawl's own
    link graph — broadcast-joined on ``source`` as a quality prior
    alongside the content gates.  With ``min_host_rank`` set,
    documents from hosts RANKED BELOW the floor are dropped before
    anything else runs; hosts outside the link graph (NULL prior)
    are KEPT — an unknown prior is missing evidence, not a verdict.
    The prior column itself is dropped after the gate so the corpus
    schema (and every downstream hash gate) is unchanged.

    Shuffle inventory at 100 TB — every stage is linear, nothing is
    quadratic in the corpus: the quality gate shuffles twice on doc_id
    (token and bigram stats); exact dedup once on the fingerprint;
    near dedup is the bucketed LSH family (band-keyed exchanges, CC on
    the pair graph, never all-pairs); decontamination broadcasts the
    eval grams so training rows never shuffle for the probe; split is
    a pure per-row hash (no exchange); sharding is the one
    hash-partition the training writer needs anyway; the manifest is a
    single map-side-combinable groupBy whose exchange carries
    fixed-size buffers."""
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    if host_rank is not None:
        from market_insights_app_spark.pipelines.crawl_corpus import (
            attach_host_rank,
        )

        in_cols = docs.columns  # the join fronts the key; restore order
        ranked = attach_host_rank(docs, host_rank)
        if min_host_rank is not None:
            ranked = ranked.filter(
                F.col("host_pagerank").isNull()
                | (F.col("host_pagerank") >= min_host_rank)
            )
        docs = ranked.select(*in_cols)
    eval_set = docs.filter(F.col("doc_id") % eval_mod == 0)
    train_in = docs.filter(F.col("doc_id") % eval_mod != 0)

    gated = repetition_gate(train_in)
    exact = dedup_exact_content(gated)
    near = dedup_corpus(exact, threshold=near_dup_threshold)
    clean = decontaminate(near, eval_set)
    stages = {
        "input": train_in,
        "quality_gate": gated,
        "exact_dedup": exact,
        "near_dedup": near,
        "decontaminate": clean,
    }

    split = F.when(
        hash_fraction("doc_id", salt + ":split") < F.lit(val_fraction), "val"
    ).otherwise("train")
    with_split = clean.withColumn("split", split)
    corpus = shard_assign(with_split, n_shards=n_shards, salt=salt + ":shuffle")
    manifest = corpus_manifest(corpus, split_col="split", salt=salt + ":manifest")
    return {
        "corpus": corpus,
        "eval_set": eval_set,
        "manifest": manifest,
        # lazy per-stage frames for funnel reporting (counting them
        # forces extra actions — ask only when diagnosing attrition)
        "stages": stages,
    }
