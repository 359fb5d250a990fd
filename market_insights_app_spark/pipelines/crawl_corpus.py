"""Crawl front end: WARC container → documents-shaped corpus.

Closes the loop between the crawl front door (sources/warc) and the
pretraining pipeline (pipelines/pretrain_corpus): a Common Crawl-style
WARC directory becomes a frame with EXACTLY the testdata ``documents``
schema (doc_id, text, lang, source, n_chars), so everything downstream
— quality gates, dedup, decontamination, splits, manifests — runs
unchanged on crawl output.

Stages (one lazy chain, all linear):

1. ``read_warc``            one row per WARC record, HTTP peeled
                            (binaryFile: one ~1 GB WARC = one task)
2. HTTP 200 + text/html     scan-stage filters
3. ``extract_main_text``    Arrow link-density boilerplate removal
4. lang-ID + length gates   scan-stage expressions
5. documents projection     deterministic doc_id =
                            xxhash64(file, uri, date) — stable across
                            reruns and partitionings; duplicate
                            fetches of one page collide on purpose and
                            fall to the exact-dedup stage downstream.
                            Honest birthday math: cross-page collisions
                            run ≈ n²/2⁶⁵ (10⁹ pages → ~2.7 %, each
                            silently merging two distinct pages at
                            dedup); a full-crawl-scale run should widen
                            to a 2-column 128-bit id (second xxhash64
                            with a different seed) before dedup — the
                            documents schema pins one long here because
                            that is the testdata contract

At 100 TB this parallelizes per WARC file with no shuffle anywhere —
the first exchange of the whole crawl→corpus path is the downstream
dedup's fingerprint groupBy.

:func:`warc_to_documents_with_rank` adds a per-document authority
prior: the SAME parsed pages also yield a host-level link graph
(codegen href scan, no Python) that ``operators/graph.pagerank``
ranks.  It parses each archive once — the page table is materialized
a single time and both the documents and the link stages read it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_insights_app_spark.functions.html import (
    extract_main_text,
    extract_outlinks,
)
from market_insights_app_spark.functions.text import lang_id
from market_insights_app_spark.functions.urls import registered_domain
from market_insights_app_spark.sources.warc import read_warc, read_warc_stream


def _pages_from_records(recs: DataFrame) -> DataFrame:
    """WARC response records → the parsed PAGE table (doc_id, html,
    uri): the shared upstream of the documents and link stages.  Pure
    scan-stage filter + select — the frame
    :func:`warc_to_documents_with_rank` materializes once."""
    return recs.filter(
        (F.col("http_status") == 200)
        & F.col("content_type").startswith("text/html")
    ).select(
        F.xxhash64("warc_file", "target_uri", "warc_date").alias("doc_id"),
        F.col("payload").cast("string").alias("html"),
        F.col("target_uri").alias("uri"),
    )


def _documents_from_pages(
    pages: DataFrame,
    min_chars: int,
    langs: tuple[str, ...] | None,
    max_link_density: float,
) -> DataFrame:
    """page table → documents-schema transform."""
    # the uri rides THROUGH the Arrow extraction batch (keep_cols) —
    # a self-join back onto the WARC parse would read and parse every
    # archive twice
    extracted = extract_main_text(
        pages, id_col="doc_id", html_col="html",
        max_link_density=max_link_density, keep_cols=("uri",),
    )
    docs = extracted.select(
        "doc_id",
        "text",
        lang_id("text").alias("lang"),
        registered_domain("uri").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    ).filter(F.col("n_chars") >= min_chars)
    if langs is not None:
        docs = docs.filter(F.col("lang").isin(list(langs)))
    return docs


def _documents_from_records(
    recs: DataFrame,
    min_chars: int,
    langs: tuple[str, ...] | None,
    max_link_density: float,
) -> DataFrame:
    """records → documents-schema transform shared by the batch and
    streaming lanes (every stage is stateless, so it composes onto a
    streaming frame unchanged)."""
    return _documents_from_pages(
        _pages_from_records(recs), min_chars, langs, max_link_density
    )


def warc_to_documents(
    spark: SparkSession,
    path: str,
    min_chars: int = 50,
    langs: tuple[str, ...] | None = None,
    max_link_density: float = 0.33,
) -> DataFrame:
    """Read WARC files under ``path`` into a documents-schema frame.

    ``min_chars`` drops pages whose extracted main text is shorter
    (boilerplate-only pages extract to near-empty); ``langs`` keeps
    only the listed language codes (None keeps everything, including
    'und').  Output columns match the testdata ``documents`` table:
    (doc_id long, text string, lang string, source string,
    n_chars long)."""
    recs = read_warc(spark, path, record_types=("response",))
    return _documents_from_records(recs, min_chars, langs, max_link_density)


def warc_to_documents_stream(
    spark: SparkSession,
    path: str,
    min_chars: int = 50,
    langs: tuple[str, ...] | None = None,
    max_link_density: float = 0.33,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Continuous-crawl twin of :func:`warc_to_documents`: the WARC
    directory as a file-stream source, each micro-batch turning
    newly-arrived archives into documents rows through the SAME
    stateless transform — so the stream's cumulative output equals the
    batch lane over the same files (pinned by
    tests/test_crawl_pipeline.py).  Sink it with foreachBatch into a
    TxnTable (storage/txnlog.streaming_merge_sink keyed on doc_id) for
    an always-current corpus."""
    recs = read_warc_stream(
        spark, path, record_types=("response",),
        max_files_per_trigger=max_files_per_trigger,
    )
    return _documents_from_records(recs, min_chars, langs, max_link_density)


# ---------------------------------------------------------------------------
# link-graph quality prior: WARC → host link graph → PageRank → a
# per-document authority column (the real-world use the synthetic
# ★pagerank_links fixture stands in for)
# ---------------------------------------------------------------------------


def host_link_graph(recs: DataFrame) -> DataFrame:
    """HOST-level link edges from WARC response records: one distinct
    (src_host, dst_host) row per linking host pair, src = the page's
    registered domain, dst = each absolute outlink's registered
    domain, self-loops dropped (PageRank discards them anyway and they
    dominate raw href counts).

    Host grain, not page grain, on purpose: the quality prior a
    pretraining pipeline wants is "does the WEB vouch for this site"
    (the Common-Crawl-style harmonic/PageRank host ranking), the graph
    is ~5 orders smaller than the page graph at crawl scale, and the
    href extraction is a pure codegen expression
    (functions/html.extract_outlinks) — no Python in the scan."""
    return host_link_graph_from_pages(_pages_from_records(recs))


def host_link_graph_from_pages(pages: DataFrame) -> DataFrame:
    """:func:`host_link_graph` off an already-parsed page table
    (doc_id, html, uri), so :func:`warc_to_documents_with_rank`'s link
    scan never re-reads the archives."""
    hrefs = pages.select(
        registered_domain(F.col("uri")).alias("src_host"),
        F.explode(extract_outlinks(F.col("html"))).alias("href"),
    )
    return (
        hrefs.select(
            "src_host", registered_domain(F.col("href")).alias("dst_host")
        )
        .filter(
            F.col("src_host").isNotNull()
            & F.col("dst_host").isNotNull()
            & (F.col("src_host") != F.col("dst_host"))
            & (F.length("src_host") > 0)
            & (F.length("dst_host") > 0)
        )
        .distinct()
    )


def host_pagerank(
    edges: DataFrame,
    iterations: int = 10,
    tiny_threshold: int = 0,
) -> DataFrame:
    """PageRank over a (src_host, dst_host) string edge list → one
    (host, host_pagerank) row per host.  Hosts map to int64 node ids
    via xxhash64 (collision odds ≈ n²/2⁶⁵ — negligible at host
    cardinality) so the integer-grid pagerank operator
    (operators/graph.py) runs unchanged; ranks join back to names on
    the same hash.  The edge list is always checkpointed eagerly, so
    calling this runs the upstream href scan once, right away.
    ``tiny_threshold`` passes through to
    :func:`operators.graph.pagerank`'s single-Arrow-task lane
    (bit-identical; 0 = off) — right for bounded host universes like
    fixtures and per-domain subgraphs, while a full-crawl host graph
    (millions of nodes) stays on the distributed lane."""
    from market_insights_app_spark.operators.graph import pagerank

    # Materialize the string edge list ONCE (r12): it feeds THREE
    # consumers — the int-edge frame (whose pagerank gate count and
    # tiny/distributed lanes each evaluate it) and the name mapping
    # joined back onto the ranks — and its upstream is the full crawl
    # href scan, the chain's dominant cost.  The edge list itself is
    # host-pair-bounded (orders of magnitude below the corpus), so the
    # eager checkpoint is cheap at any scale; ContextCleaner frees the
    # blocks when the result frame drops.
    edges = edges.localCheckpoint(eager=True)
    e = edges.select(
        F.xxhash64("src_host").alias("src"),
        F.xxhash64("dst_host").alias("dst"),
    )
    names = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .select("host", F.xxhash64("host").alias("node"))
    )
    pr = pagerank(e, iterations=iterations, tiny_threshold=tiny_threshold)
    return pr.join(names, "node").select(
        "host", F.col("pagerank").alias("host_pagerank")
    )


def attach_host_rank(docs: DataFrame, host_rank: DataFrame) -> DataFrame:
    """Join the host-authority prior onto a documents-schema frame
    (batch OR streaming — the rank side is static, so on a stream this
    is a supported stream-static join): adds ``host_pagerank``
    (double, NULL for hosts outside the link graph — an unknown prior
    is information, not zero).  The rank table is host-cardinality
    (small); the broadcast hint keeps the corpus side shuffle-free at
    any scale."""
    return docs.join(
        F.broadcast(host_rank.withColumnRenamed("host", "source")),
        "source",
        "left",
    )


def warc_to_documents_with_rank(
    spark: SparkSession,
    path: str,
    min_chars: int = 50,
    langs: tuple[str, ...] | None = None,
    max_link_density: float = 0.33,
    iterations: int = 10,
    pages_path: str | None = None,
    parse_counter=None,
    tiny_threshold: int = 0,
) -> DataFrame:
    """The full composition: WARC → documents + host-PageRank quality
    prior, ready for the pretraining pipeline's quality gates
    (alongside readability / NB-quality — rank is the one signal that
    uses the crawl's own structure rather than the page's content).

    Cost shape at 100 TB: the archives are parsed ONCE.  The parsed
    page table (doc_id, html, uri — already filtered to HTTP-200
    text/html, so smaller than the raw WARC bytes) is materialized a
    single time and BOTH stages — the documents/text stage and the
    link stage's codegen href scan — run off it.  ``pages_path`` picks
    the materialization: a path sinks the page table to parquet and
    re-reads it (the production ACID-ingest shape — survives the
    session, feeds later reruns, column-pruned per stage: the link
    stage reads only (html, uri)); None (default) uses an eager
    ``localCheckpoint`` (executor block storage, MEMORY_AND_DISK —
    the in-session shape; the blocks free when the result frame
    drops).  PageRank itself runs on the host graph (tiny), and the
    rank join back onto the corpus is a broadcast.

    ``parse_counter`` (a Spark accumulator) counts archive parses —
    the single-parse law (counter == file count after one full
    action) is pinned in tests/test_crawl_pipeline.py.

    ``tiny_threshold`` passes through to host_pagerank (r12): 0
    (default) always runs the distributed per-iteration grid — the
    right default because a full crawl's host graph is tens of
    millions of nodes; a bounded-corpus caller (per-domain recrawl,
    test fixture) can set it to collapse the ~3·iterations scheduler
    jobs into one bit-identical Arrow task (operators/graph.py)."""
    recs = read_warc(
        spark, path, record_types=("response",), parse_counter=parse_counter
    )
    pages = _pages_from_records(recs)
    if pages_path is not None:
        pages.write.mode("overwrite").parquet(pages_path)
        pages = spark.read.parquet(pages_path)
    else:
        pages = pages.localCheckpoint(eager=True)
    docs = _documents_from_pages(pages, min_chars, langs, max_link_density)
    rank = host_pagerank(
        host_link_graph_from_pages(pages),
        iterations=iterations,
        tiny_threshold=tiny_threshold,
    )
    return attach_host_rank(docs, rank)
