"""``corpus_build``: one batch job, repeated.  Generated gzipped WARC
archives go through ``pipelines/crawl_corpus`` (WARC → documents plus
the host-PageRank prior) into
``pipelines/pretrain_corpus.build_pretraining_corpus``; the corpus
(doc_id, text) and the manifest are collected.

Heavy on shuffles and Python workers (Arrow HTML extraction,
MinHash-LSH, connected components, PageRank); the request path is
bypassed.  At the sizes a run can afford (240 pages, ~350 stages) the
build is bound by per-stage overhead, not by page volume."""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import StageCounters, spark_layer_counts
from perfbench.stats import percentile

N_FILES, PAGES_PER_FILE = 4, 60
N_FILES_SMALL = 1
LANGS = ("en", "es", "fr", "de")
EVAL_MOD = 31  # ~3 % of documents form the held-out eval slice
# the generated host graph is bounded (<= 60 hosts): run PageRank as
# one Arrow task, the documented lane for bounded host universes
PAGERANK_TINY = 10_000
SHINGLE_N = 3  # pretrain_corpus decontaminates on word 3-grams


def prepare(seed: int, tmp: str, small: bool = False) -> dict:
    n_files = N_FILES_SMALL if small else N_FILES
    info = gen.make_warcs(seed, os.path.join(tmp, "warc"), n_files, PAGES_PER_FILE)
    info["glob"] = os.path.join(tmp, "warc", "*.warc.gz")
    return info


def first_query(spark, inputs) -> None:
    from market_insights_app_spark.sources.warc import read_warc

    read_warc(spark, inputs["files"][0]).count()


def build(spark, inputs, tracer, parse_counter=None) -> dict:
    """WARC → ranked documents → pretraining corpus (lazy frames; the
    crawl front end materializes its parsed page table eagerly)."""
    from market_insights_app_spark.pipelines.crawl_corpus import warc_to_documents_with_rank
    from market_insights_app_spark.pipelines.pretrain_corpus import build_pretraining_corpus

    with tracer.span("pipelines", "crawl_with_rank"):
        ranked = warc_to_documents_with_rank(
            spark, inputs["glob"], langs=LANGS, parse_counter=parse_counter,
            tiny_threshold=PAGERANK_TINY,
        )
    with tracer.span("pipelines", "build_pretraining_corpus"):
        return build_pretraining_corpus(spark, inputs["glob"], docs=ranked, eval_mod=EVAL_MOD)


def run_once(spark, inputs, tracer, parse_counter=None) -> tuple[float, dict, list, list]:
    """One timed build: input to the complete corpus and manifest.  The
    corpus is collected (doc_id, text) rather than written to the noop
    sink, so the check can read it without a second build."""
    t0 = time.perf_counter()
    with tracer.span("bench", "corpus_build"):
        out = build(spark, inputs, tracer, parse_counter)
        with tracer.span("plans", "exec"):
            corpus = out["corpus"].select("doc_id", "text").collect()
            manifest = sorted(tuple(r) for r in out["manifest"].collect())
    return time.perf_counter() - t0, out, corpus, manifest


def _grams(text: str) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def check(out: dict, corpus: list, manifests: list) -> tuple[list[str], dict]:
    """Same manifest on every build; no exact duplicate and no document
    sharing a decontamination n-gram with the eval slice survives."""
    bad = []
    if any(m != manifests[0] for m in manifests):
        bad.append("manifest differs between builds of one seed")
    evals = out["eval_set"].select("doc_id", "text").collect()
    norm = [" ".join(r.text.lower().split()) for r in corpus]
    if len(set(norm)) != len(norm):
        bad.append("exact duplicate survived")
    eval_grams = set().union(*(_grams(r.text) for r in evals)) if evals else set()
    leaked = sum(1 for r in corpus if _grams(r.text) & eval_grams)
    if leaked:
        bad.append(f"{leaked} eval-overlapping documents survived")
    if sum(r[1] for r in manifests[0]) != len(corpus):
        bad.append("manifest row count differs from the corpus")
    return bad, {"corpus_rows": len(corpus), "eval_rows": len(evals)}


def measure(spark, inputs, seconds: float, tracer, meter, run_dir: str) -> dict:
    """Repeat the build for ``seconds`` (at least once); with the tracer
    on, the builds run under spans and one job group, and the front-end
    probes follow."""
    traced = tracer.enabled
    counters = StageCounters(spark) if traced else None
    acc = spark.sparkContext.accumulator(0) if traced else None
    if traced:
        spark.sparkContext.setJobGroup("build", "corpus_build")
    times, manifests = [], []
    cpu0 = meter.work_cpu_seconds()
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while not times or time.perf_counter() < deadline:
        took, out, corpus, manifest = run_once(spark, inputs, tracer, acc)
        times.append(took)
        manifests.append(manifest)
    wall = time.perf_counter() - t0
    cpu_s = meter.work_cpu_seconds() - cpu0
    p50 = percentile(times, 50)
    res: dict = {}
    if traced:
        counters.flush()
        totals = counters.group("build")
        res["layers"] = {
            **spark_layer_counts(totals, len(times), wall),
            "sources.warc_parses_per_file": acc.value / len(times) / len(inputs["files"]),
            "plans.exec_ms": sum(tracer.durations_ms("exec")) / len(times),
            **probe_stages(spark, inputs, tracer),
        }
    tracer.enabled = False  # the check is not part of the traced work
    bad, facts = check(out, corpus, manifests)
    res.update(
        {
            "attempted": len(times),
            "failed": len(bad),
            "e2e": {"p50_ms": p50 * 1e3, "cpu_ms_per_op": cpu_s * 1e3 / len(times)},
            "report": {
                "builds": len(times),
                "corpus_s": p50,
                "pages": inputs["pages"],
                "corpus_pages_per_s": inputs["pages"] / p50,
                **facts,
                "planted": inputs["planted"],
                "check_failures": bad,
            },
        }
    )
    return res


def probe_stages(spark, inputs, tracer) -> dict:
    """Each front-end frame materialized alone, and the row count out of
    every pretraining stage."""
    from market_insights_app_spark.pipelines.crawl_corpus import (
        host_link_graph, host_pagerank, warc_to_documents, warc_to_documents_with_rank,
    )
    from market_insights_app_spark.pipelines.pretrain_corpus import build_pretraining_corpus
    from market_insights_app_spark.sources.warc import read_warc

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(layer, name, fn):
        with tracer.span(layer, name):
            t = time.perf_counter()
            out = fn()
            return time.perf_counter() - t, out

    spark.sparkContext.setJobGroup("probes", "layer probes")
    read_s, _ = timed("sources", "read_warc", lambda: read_warc(spark, inputs["glob"]).count())
    crawl_s, _ = timed("pipelines", "crawl",
                       lambda: noop(warc_to_documents(spark, inputs["glob"], langs=LANGS)))
    rank_s, _ = timed("pipelines", "rank", lambda: noop(host_pagerank(
        host_link_graph(read_warc(spark, inputs["glob"])), tiny_threshold=PAGERANK_TINY)))
    docs = warc_to_documents_with_rank(spark, inputs["glob"], langs=LANGS,
                                       tiny_threshold=PAGERANK_TINY).localCheckpoint(eager=True)

    def pretrain():
        out = build_pretraining_corpus(spark, inputs["glob"], docs=docs, eval_mod=EVAL_MOD)
        noop(out["corpus"])
        out["manifest"].collect()
        return out

    pretrain_s, out = timed("pipelines", "pretrain", pretrain)
    rows = {k: v.count() for k, v in out["stages"].items()}
    rows["corpus"] = out["corpus"].count()
    return {
        "sources.read_warc_ms": read_s * 1e3,
        "pipelines.crawl_s": crawl_s,
        "pipelines.rank_s": rank_s,
        "pipelines.pretrain_s": pretrain_s,
        **{f"pipelines.rows.{k}": v for k, v in rows.items()},
        "pipelines.kept_ratio": rows["corpus"] / max(1, rows["input"]),
    }
