"""Crawl front end (pipelines/crawl_corpus): synthetic WARC files →
documents-schema frame → the pretraining pipeline — the full
crawl→training-corpus path in one lazy composition."""

from __future__ import annotations

import gzip

from market_insights_app_spark.pipelines.crawl_corpus import warc_to_documents

_BODY = (
    "<html><body>"
    "<p>The quick brown fox jumps over the lazy dog and the dog is not "
    "amused by it at all, which is a fine sentence for extraction.</p>"
    "<div><a href='/a'>nav</a> <a href='/b'>menu</a> <a href='/c'>links"
    "</a></div>"
    "</body></html>"
)


def _record(rtype, uri, body, ctype):
    head = (
        f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2026-08-15T00:00:00Z\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


def _http(body: bytes, status=200, ctype="text/html; charset=utf-8"):
    return (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _warc(uris, status=200, body=_BODY.encode()):
    out = b""
    for u in uris:
        out += _record(
            "response", u, _http(body, status),
            "application/http; msgtype=response",
        )
    return out


def test_warc_to_documents_schema_and_filters(spark, tmp_path):
    (tmp_path / "a.warc").write_bytes(
        _warc(["http://ex.com/1", "http://news.ex.com/2"])
        + _warc(["http://ex.com/404"], status=404)
        + _record("response", "http://ex.com/img",
                  _http(b"png-bytes", ctype="image/png"),
                  "application/http; msgtype=response")
    )
    (tmp_path / "b.warc.gz").write_bytes(
        gzip.compress(_warc(["http://other.org/x"]))
    )
    docs = warc_to_documents(spark, str(tmp_path / "*.warc*"))
    rows = docs.collect()
    # 404 and image rows are gone; 3 HTML 200 pages survive
    assert len(rows) == 3
    assert docs.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    by_src = {r.source for r in rows}
    assert by_src == {"ex.com", "other.org"}
    for r in rows:
        assert "quick brown fox" in r.text
        assert "nav" not in r.text  # link farm block dropped
        assert r.lang == "en"
        assert r.n_chars == len(r.text) >= 50


def test_warc_to_documents_deterministic_ids(spark, tmp_path):
    (tmp_path / "a.warc").write_bytes(_warc(["http://ex.com/1"]))
    d1 = warc_to_documents(spark, str(tmp_path / "a.warc")).collect()
    d2 = warc_to_documents(spark, str(tmp_path / "a.warc")).collect()
    assert sorted(tuple(r) for r in d1) == sorted(tuple(r) for r in d2)


def test_warc_to_documents_min_chars_and_lang_gate(spark, tmp_path):
    # 30 chars: survives the 25-char extraction segment floor but sits
    # under the pipeline's 50-char document gate
    tiny = b"<html><body><p>a short bit of page text here.</p></body></html>"
    (tmp_path / "a.warc").write_bytes(
        _warc(["http://ex.com/long"])
        + _warc(["http://ex.com/short"], body=tiny)
    )
    path = str(tmp_path / "a.warc")
    assert warc_to_documents(spark, path).count() == 1  # short page gated
    assert warc_to_documents(spark, path, min_chars=10).count() == 2
    assert warc_to_documents(spark, path, langs=("fr",)).count() == 0


def test_crawl_feeds_pretraining_pipeline(spark, tmp_path):
    """The crawl output plugs into build_pretraining_corpus unchanged —
    one lazy WARC→corpus→splits→manifest chain."""
    from market_insights_app_spark.pipelines.pretrain_corpus import (
        build_pretraining_corpus,
    )

    from pyspark.sql import functions as F

    # distinct vocabulary per page: no shared n-grams, so the corpus
    # survives dedup AND eval-decontamination (identical bodies would
    # correctly be decontaminated to zero — n-gram overlap with eval)
    warc = b""
    for i in range(12):
        body = ("<html><body><p>"
                + " ".join(f"w{i}token{j}" for j in range(40))
                + ".</p></body></html>").encode()
        warc += _warc([f"http://site{i % 3}.com/page{i}"], body=body)
    (tmp_path / "a.warc").write_bytes(warc)
    docs = warc_to_documents(spark, str(tmp_path / "a.warc"))
    out = build_pretraining_corpus(
        spark, sf_dir="unused-when-docs-given", docs=docs, eval_mod=5,
        n_shards=2,
    )
    n_eval = docs.filter(F.col("doc_id") % 5 == 0).count()
    corpus = out["corpus"].collect()
    manifest = {r.split: r for r in out["manifest"].collect()}
    assert len(corpus) == 12 - n_eval > 0
    assert set(manifest) <= {"train", "val"}
    assert sum(r.n_rows for r in manifest.values()) == len(corpus)


def test_streaming_crawl_matches_batch_and_sinks_idempotently(spark, tmp_path):
    """Continuous-crawl lane: the WARC directory as a file stream.
    With maxFilesPerTrigger=1 the availableNow drain crosses real
    micro-batch boundaries, and the cumulative stream output must
    equal the batch lane over the same files; re-draining into the
    TxnTable MERGE sink must not duplicate rows."""
    from market_insights_app_spark.pipelines.crawl_corpus import (
        warc_to_documents,
        warc_to_documents_stream,
    )
    from market_insights_app_spark.storage.txnlog import (
        TxnTable,
        streaming_merge_sink,
    )

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    for f in range(3):
        uris = [f"http://s{f}.com/p{i}" for i in range(4)]
        body = ("<html><body><p>"
                + " ".join(f"f{f}w{i}tok{j}" for i in range(1) for j in range(30))
                + ".</p></body></html>").encode()
        (crawl / f"{f}.warc").write_bytes(_warc(uris, body=body))
    path = str(crawl / "*.warc")
    batch = sorted(tuple(r) for r in warc_to_documents(spark, path).collect())
    assert len(batch) == 12

    stream = warc_to_documents_stream(spark, path, max_files_per_trigger=1)
    table = TxnTable(spark, str(tmp_path / "docs_table"))
    q = (
        stream.writeStream.foreachBatch(streaming_merge_sink(table, ["doc_id"]))
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(tuple(r) for r in table.read().collect())
    assert got == batch

    # second drain from a FRESH checkpoint replays every file with batch
    # ids restarting at 0, so no (app, batch_id) marker is shared across
    # the drains; update-else-insert must keep the table identical
    q2 = (
        warc_to_documents_stream(spark, path, max_files_per_trigger=1)
        .writeStream.foreachBatch(streaming_merge_sink(table, ["doc_id"]))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    again = sorted(tuple(r) for r in table.read().collect())
    assert again == batch


def _page(prefix: str, hrefs: list[str]) -> bytes:
    """Prose block (survives extraction) + a link block (dropped from
    TEXT by the density gate, but the raw payload still feeds the
    codegen outlink scan — the two lanes read different columns)."""
    prose = " ".join(f"{prefix}tok{j}" for j in range(40))
    links = " ".join(f"<a href='{h}'>x</a>" for h in hrefs)
    return (
        f"<html><body><p>{prose}.</p><div>{links}</div></body></html>"
    ).encode()


def test_crawl_host_rank_prior_batch_and_stream_twin(spark, tmp_path):
    """The r9-verdict composition: WARC → host link graph →
    integer-grid PageRank → per-document authority prior.  The host
    graph is pinned edge-for-edge, the rank against the pure-Python
    PageRank reference (same one test_graph uses), the document join
    value-for-value, NULL for hosts outside the graph, and the
    streaming lane (stream-static broadcast join) must equal the
    batch lane row-for-row."""
    from pyspark.sql import functions as F

    from market_insights_app_spark.pipelines.crawl_corpus import (
        attach_host_rank,
        host_link_graph,
        host_pagerank,
        warc_to_documents_stream,
        warc_to_documents_with_rank,
    )
    from market_insights_app_spark.sources.warc import read_warc
    from tests.test_graph import GRID, _ref_pagerank

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    site = {
        "a.com": ["http://b.com/x", "https://c.com/y?q=1#frag"],
        "b.com": ["http://c.com/z"],
        "c.com": ["http://a.com/"],
        "d.com": ["http://c.com/w", "http://d.com/self", "/relative"],
        "e.com": [],  # no outlinks: outside the link graph entirely
    }
    warc = b""
    for i, (host, hrefs) in enumerate(sorted(site.items())):
        warc += _warc(
            [f"http://{host}/p"], body=_page(f"h{i}w", hrefs)
        )
    (crawl / "a.warc").write_bytes(warc)
    path = str(crawl / "a.warc")

    recs = read_warc(spark, path, record_types=("response",))
    edges = host_link_graph(recs)
    got_edges = {(r.src_host, r.dst_host) for r in edges.collect()}
    # self-loop (d→d) and relative/fragment links never become edges;
    # the #frag is cut from c.com's URL before domain extraction
    assert got_edges == {
        ("a.com", "b.com"), ("a.com", "c.com"), ("b.com", "c.com"),
        ("c.com", "a.com"), ("d.com", "c.com"),
    }

    # independent reference over the same xxhash64 node ids
    ids = {
        r.host: r.node
        for r in edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .select("host", F.xxhash64("host").alias("node"))
        .collect()
    }
    ref = _ref_pagerank([(ids[a], ids[b]) for a, b in got_edges], iters=10)
    rank = {r.host: r.host_pagerank for r in host_pagerank(edges).collect()}
    assert set(rank) == set(ids)
    for h, node in ids.items():
        assert abs(rank[h] - ref[node] / GRID) < 1e-12, h
    assert max(rank, key=rank.get) == "c.com"  # most inlinks wins

    out = warc_to_documents_with_rank(spark, path)
    assert "host_pagerank" in out.columns
    rows = {r.source: r for r in out.collect()}
    assert set(rows) == set(site)
    for h in ("a.com", "b.com", "c.com", "d.com"):
        assert rows[h].host_pagerank == rank[h], h
    assert rows["e.com"].host_pagerank is None  # unknown prior ≠ zero

    # stream twin: the SAME static rank table joined onto the
    # streaming documents lane must reproduce the batch output
    static_rank = host_pagerank(edges)
    enriched = attach_host_rank(
        warc_to_documents_stream(spark, str(crawl / "*.warc")), static_rank
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("rank_twin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM rank_twin").collect()
    )
    want = sorted(tuple(r) for r in out.collect())
    assert got == want and len(got) == 5


def test_host_rank_prior_gates_pretraining_corpus(spark, tmp_path):
    """Stage-0 authority prior: with a min_host_rank floor, documents
    from hosts ranked below it drop BEFORE the content gates; hosts
    outside the link graph (NULL prior) pass; the corpus schema (and
    so every downstream hash gate) is unchanged."""
    from market_insights_app_spark.pipelines.crawl_corpus import (
        host_link_graph,
        host_pagerank,
        warc_to_documents,
    )
    from market_insights_app_spark.pipelines.pretrain_corpus import (
        build_pretraining_corpus,
    )
    from market_insights_app_spark.sources.warc import read_warc

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    # b.com collects both in-links (top rank); a.com only c.com's
    # (low rank); e.com has no links either way (NULL prior)
    site = {
        "a.com": ["http://b.com/x"],
        "c.com": ["http://b.com/y", "http://a.com/z"],
        "b.com": [],
        "e.com": [],
    }
    warc = b""
    for i, (host, hrefs) in enumerate(sorted(site.items())):
        # distinct vocab per page so dedup/decontamination keep them
        warc += _warc([f"http://{host}/p"], body=_page(f"g{i}w", hrefs))
    (crawl / "a.warc").write_bytes(warc)
    path = str(crawl / "a.warc")

    docs = warc_to_documents(spark, path)
    recs = read_warc(spark, path, record_types=("response",))
    rank = host_pagerank(host_link_graph(recs))
    ranks = {r.host: r.host_pagerank for r in rank.collect()}
    assert ranks["b.com"] > ranks["a.com"]  # 2 in-links vs 1
    floor = (ranks["a.com"] + ranks["b.com"]) / 2

    base = build_pretraining_corpus(
        spark, sf_dir="unused", docs=docs, eval_mod=10**9, n_shards=2
    )["corpus"]
    gated = build_pretraining_corpus(
        spark, sf_dir="unused", docs=docs, eval_mod=10**9, n_shards=2,
        host_rank=rank, min_host_rank=floor,
    )["corpus"]
    assert gated.columns == base.columns  # prior column never leaks
    base_hosts = {r.source for r in base.collect()}
    got_hosts = {r.source for r in gated.collect()}
    assert "e.com" in base_hosts
    # a.com and c.com rank below the floor and drop; b.com survives
    # the floor; e.com (no prior) passes
    assert got_hosts == {"b.com", "e.com"}


def test_single_parse_composition_parses_each_archive_once(
    spark, tmp_path
):
    """The r11 single-parse law: warc_to_documents_with_rank
    materializes the parsed page table ONCE and runs BOTH stages (text
    + link) off it — the per-file parse accumulator lands exactly at
    the archive count after a full action.  The pages_path
    (production ACID-ingest) shape must parse once too and return the
    same rows.

    Accumulator-in-transformation caveat (r11 ADVICE): add() is
    at-least-once under task retries / speculation, so the exact
    ``== 2`` assertions are deterministic ONLY because this session
    runs local-mode with speculation off and no task failures — assert
    that premise explicitly so an env change fails loudly here rather
    than as a flaky count."""
    from market_insights_app_spark.pipelines.crawl_corpus import (
        warc_to_documents_with_rank,
    )

    assert spark.conf.get("spark.speculation", "false") == "false"

    crawl = tmp_path / "crawl"
    crawl.mkdir()
    site = {
        "a.com": ["http://b.com/x", "http://c.com/y"],
        "b.com": ["http://c.com/z"],
        "c.com": ["http://a.com/"],
        "e.com": [],
    }
    items = sorted(site.items())
    for fi in range(2):  # two archives, two pages each
        warc = b""
        for host, hrefs in items[fi * 2 : fi * 2 + 2]:
            warc += _warc([f"http://{host}/p"], body=_page(host, hrefs))
        (crawl / f"{fi}.warc").write_bytes(warc)
    path = str(crawl / "*.warc")

    acc = spark.sparkContext.accumulator(0)
    out = warc_to_documents_with_rank(spark, path, parse_counter=acc)
    single = sorted(tuple(r) for r in out.collect())
    assert len(single) == 4
    assert acc.value == 2  # one parse per archive, ever

    acc3 = spark.sparkContext.accumulator(0)
    sunk = sorted(
        tuple(r)
        for r in warc_to_documents_with_rank(
            spark, path,
            pages_path=str(tmp_path / "pages"), parse_counter=acc3,
        ).collect()
    )
    assert sunk == single
    assert acc3.value == 2

    # r12: the tiny_threshold pass-through (single-Arrow-task host
    # PageRank) must be row-identical too — the lane changes the
    # physical plan, never a value
    tiny = sorted(
        tuple(r)
        for r in warc_to_documents_with_rank(
            spark, path, tiny_threshold=100_000
        ).collect()
    )
    assert tiny == single
