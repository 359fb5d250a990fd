"""Regenerate EXPLAIN.md: formatted physical plans of the flagship
queries with scale commentary. Run from the repo root:

    python scripts/generate_explain.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

COMMENTARY = {
    "prices_filter_range_limit": (
        "Flagship read path (GET /prices). The equality AND time-range "
        "predicates all reach the scan as PushedFilters — NTZ timestamp "
        "bounds push natively into the parquet reader — and the "
        "ReadSchema is pruned to the 5 output columns. ORDER+LIMIT "
        "compiles to TakeOrderedAndProject: per-partition top-N, single "
        "merge, no global sort."
    ),
    "positions_agg": (
        "A1 conditional-sum aggregation: map-side partial HashAggregate "
        "→ one Exchange on user_id → final HashAggregate. At 100 TB the "
        "shuffle carries only (key × 4 decimal partials), not rows."
    ),
    "multi_join_revenue": (
        "TPC-H Q5-shaped chain: every dimension side is a "
        "BroadcastExchange (no SortMergeJoin, no shuffle of the fact "
        "table for joins); the only Exchange is the final groupBy. At "
        "real scale AQE re-plans orders/customer to shuffle joins when "
        "they outgrow the broadcast threshold — the plan shape is "
        "declared, not hand-scheduled."
    ),
    "latest_join_enrich": (
        "J1: latest-per-key ranking window on the series side "
        "(bounded by key cardinality) then BroadcastHashJoin into the "
        "facts — the N+1 correlated lookup of the reference collapsed "
        "into one broadcast."
    ),
    "asof_join": (
        "As-of join in the union-merge form: both sides shuffle once on "
        "the key, a single running last_value(ignorenulls) window fills "
        "the payload — no time-range cross-product anywhere in the plan."
    ),
    "minhash_neardup_portable": (
        "MinHash-LSH (portable md5 base hash — the hash-gated twin of "
        "the xxhash64 engine lane): shingle explode → base-hash → 32 "
        "affine permutations → groupBy(id) min partials; banding "
        "self-join is an equi-join on (band, bucket) — candidate pairs "
        "only ever form inside a bucket."
    ),
    "simhash_neardup_portable": (
        "SimHash (portable 32-bit md5 bit votes — the hash-gated twin "
        "of the 64-bit xxhash64 engine lane): explode → bit-vote SUMs "
        "in ONE groupBy(id); the "
        "(id, h) signature table is persisted so the pigeonhole-chunk "
        "self-join reads it twice without re-aggregating, and the "
        "Hamming filter runs BEFORE the pair-dedup exchange so only "
        "survivors are shuffled."
    ),
    "txn_merge_rewrite": (
        "ACID MERGE rewrite (storage/txnlog.TxnTable.merge): the table "
        "here holds two data directories with disjoint key-range stats; "
        "the commit-log metadata layer pruned the rewrite to the ONE "
        "overlapping directory, so the scan below reads a single "
        "location (data skipping is invisible to Catalyst — it happens "
        "before the plan is built, exactly like Delta's file pruning). "
        "The WHEN-MATCHED half is a LeftAnti BroadcastHashJoin of the "
        "small update-key set against only that directory; the union "
        "appends the update rows. At 100 TB the cost is O(overlapping "
        "directories), not O(table), and the broadcast is the update "
        "keys — never the table."
    ),
    "exact_jaccard_pairs": (
        "Pairs stage of near_dedup_corpus_exact: all-pairs exact "
        "Jaccard as a token equi-join on the shingle — no cross "
        "product, work = Σ_g df(g)². The downstream connected "
        "components (duplicate_clusters) is an ITERATIVE fixpoint — "
        "its unrolled plan is deliberately not dumped here (each round "
        "re-plans two shuffles; the per-round plan is edge-join + min "
        "agg). Differentially verified end-to-end against a DuckDB "
        "recursive-CTE oracle (★near_dedup_corpus_exact)."
    ),
    "url_normalize": (
        "URL canonicalization: every stage (fragment strip, case fold, "
        "default-port drop, tracking-param filter, trailing-slash trim, "
        "eTLD+1 heuristic) is a scan-stage JVM expression inside one "
        "WholeStageCodegen span over the Project — zero shuffles, zero "
        "Python; the canonical URL/domain become downstream "
        "partition/dedup keys for free."
    ),
    "dsir_select": (
        "DSIR importance selection: raw-corpus gram explode feeds one "
        "groupBy per distribution (≤1024-row bucket tables — the "
        "log-ratio side of the join is a BroadcastExchange) and the "
        "final top-k compiles to TakeOrderedAndProject. The only "
        "data-sized exchange is the per-doc bucket-count groupBy."
    ),
    "semdedup": (
        "SemDeDup gate path (k=8): k-means labels come from ONE "
        "nested-array-literal argmin expression in the scan stage (no "
        "join back, plan size O(1) in k); the persisted label+vector+"
        "norm frame feeds both sides of the in-cluster self-join, and "
        "the per-pair cosine is a single dot fold against precomputed "
        "norms. Above LARGE_K the same operator switches to broadcast-"
        "numpy assignment + per-cluster blocked BLAS (not shown: "
        "mapInPandas/applyInPandas plans are opaque to EXPLAIN)."
    ),
    "ohlc_resample": (
        "Tick→daily OHLCV candles in ONE Exchange: the bucket is "
        "projected before the window, so the two row_number windows "
        "(open/close selection) and the bar groupBy all hash the same "
        "(user_id, bucket_ts) attributes — the partial aggregate "
        "feeds the final HashAggregate with no second shuffle. At "
        "100 TB the shuffle carries ticks once; bars are tiny."
    ),
    "pairwise_corr": (
        "Cross-series correlation — registered plan is the "
        "blocked-BLAS Gram lane since r11 (the at-scale shape, "
        "measured 2× faster at sf0.1): the tick table reduces to "
        "(key × hour-bucket) exact-DECIMAL sums, bucket sums become "
        "integer cents, keys split into block pairs, and each block "
        "pair computes all six sufficient statistics as six matrix "
        "products inside one Arrow applyInPandas task — integer-"
        "valued float64 matmuls are exact below 2⁵³ (guarded), so "
        "the correlation expression is bit-identical to the bucket "
        "self-join sibling (operators/market.pairwise_corr), which "
        "stays equality-pinned in tests and shares this oracle. The "
        "pair-row shuffle (~Σ_b k_b² rows) is gone; the aligned "
        "table moves ≤ n_blocks times instead."
    ),
    "series_moments": (
        "Four exact DECIMAL power sums in one map-side-combinable "
        "HashAggregate → single Exchange on the key → final moment "
        "expressions. The whole skew/kurtosis computation ships one "
        "row of partials per (key × partition), nothing else."
    ),
    "span_dedup": (
        "Exact substring-span dedup: three linear shuffles — the gram "
        "first-occurrence ranking window (partitioned by the gram), "
        "the per-document coverage window over the token∪span-start "
        "union (equal-length spans make interval union a running max, "
        "no self-join), and the groupBy(doc) reassembly. The Window "
        "operators sit directly on their Exchanges; nothing quadratic."
    ),
    "bigram_lm": (
        "Bigram LM: doc-bigram stream joins the corpus bigram-count "
        "table co-partitioned on the bigram (the count side is "
        "corpus-sized at web scale — deliberately NOT broadcast); "
        "context counts and the vocab scalar are vocabulary-sized "
        "BroadcastExchanges; the per-doc reduce is map-side partial."
    ),
    "snapshot_diff": (
        "Snapshot reconciliation: ONE FullOuter SortMergeJoin "
        "co-partitioned on the key (each 100 TB snapshot moves exactly "
        "once), NULL-safe change predicate in the post-join "
        "Filter/Project — no second pass. Bucketed snapshots would "
        "drop even these two Exchanges (test_bucketed_join pattern)."
    ),
    "trend_ols": (
        "Per-series OLS drift: partial HashAggregate map-side, one "
        "Exchange carrying k x 6 exact DECIMAL partials, final "
        "HashAggregate + a single projected double expression. The "
        "shuffle never carries rows."
    ),
    "decontaminate_bloom": (
        "Bloom-prefilter decontamination: the membership probe is an "
        "ArrowEvalPython (vectorized bit lookups against one broadcast "
        "bit array) applied at the scan stage, so the exact confirm "
        "join and the distinct/anti-join above it only ever see "
        "true-hit + ~0.2% false-positive gram rows. No SortMergeJoin "
        "anywhere at bench scale; at web scale the confirm join "
        "shuffles candidates only."
    ),
    "validate_lineitem": (
        "Expectation gate: all seven row-level rules are ONE "
        "HashAggregate over ONE lineitem scan (the Generate explodes "
        "the report row); unique-key excess is a two-stage aggregate; "
        "FK orphans are a LeftAnti against the distinct parent keys. "
        "Three lineitem reads total, nothing row-sized to the driver."
    ),
    "cdc_apply_roundtrip": (
        "CDC apply over a derived change feed: base moves once through "
        "a LeftOuter join against the feed plus the added-row union. "
        "The diff subtree appears twice because the gate derives the "
        "feed inline — production callers hand apply_changes a "
        "MATERIALIZED change set (see the operator docstring)."
    ),
    "scd2_user_state": (
        "SCD Type-2 build: the lag change-detect window, the "
        "row_number first-row guard, and the lead interval-close "
        "window all share ONE hash partitioning on the key — a single "
        "Exchange, no join."
    ),
    "pit_feature_lookup": (
        "Point-in-time lookup riding the union-merge as-of join: both "
        "sides exchange once on the key, the running last(ignorenulls) "
        "forward-fill replaces a range cross-product, and the expiry "
        "null-out is a post-project expression."
    ),
    "twap_daily": (
        "TWAP: the lead holding-interval window and the (key, day) "
        "aggregate share one partitioning; DECIMAL partial sums "
        "combine map-side."
    ),
    "robust_outliers": (
        "Median/MAD gate: three grouped passes whose intermediates "
        "(median table, MAD table) are k-row BroadcastExchanges back "
        "onto the scan — data rows never shuffle; the exact "
        "percentiles sort within groups and swap for approx_percentile "
        "sketches at full scale."
    ),
    "daily_sharpe": (
        "Returns→Sharpe: the (key, day) close aggregate and the lag "
        "window + stats aggregate run on TWO exchanges total — the "
        "window re-keys once on the key and the sufficient-statistic "
        "groupBy reuses that partitioning. All sums are DECIMAL "
        "partials; the Sharpe is one double expression at the end."
    ),
    "key_skew": (
        "Skew report: one map-side-combining count groupBy is the only "
        "row-bearing Exchange; totals reduce to a broadcast single "
        "row; the heavy-hitter cut is TakeOrderedAndProject (heap, no "
        "global sort); rank/cum-share windows touch only top_n rows."
    ),
    "zscore_anomalies": (
        "Anomaly monitor: both trailing moments (avg, stddev_samp over "
        "ROWS -20..-1) and the warm-up row_number share a single "
        "(key)-sorted Exchange; the z, the rounding, and the threshold "
        "flag are scan-stage expressions over the window output."
    ),
    "frame_sample": (
        "Video frame fan-out: a single MapInPandas (Arrow lane) over a "
        "payload-pruned ReadSchema — no shuffle at all; output rows "
        "scale with payload bytes, which the file reader already "
        "bounds per partition."
    ),
    "rolling_corr_market": (
        "Regime monitor: the day-keyed equal-weight market table is a "
        "BroadcastExchange onto the per-key return stream; ONE "
        "(key)-sorted window pass then computes all five trailing "
        "fixed-point sums — the correlation itself is scan-stage "
        "double math over the window output."
    ),
    "ngram_novelty": (
        "Novelty scoring: distinct doc grams explode once; membership "
        "is a single left join against the reference's distinct gram "
        "set (broadcast at bench scale; swaps to the Bloom prefilter "
        "shape at web scale) and the ratio is a per-doc division of "
        "exact counts — no per-row Python anywhere."
    ),
    "var_cvar": (
        "Tail risk: (key, day) close aggregate, then ONE key-sorted "
        "Exchange shared by the rank window, the per-key count window "
        "and the tail aggregate — no join; the ceil(αn)-row tail never "
        "leaves its partition, so the shuffle carries per-key partials "
        "only."
    ),
    "quality_funnel": (
        "Rule cascade as ONE text-only scan: all four rule features "
        "are scan-stage expressions, the five survivor counts are "
        "conditional partial aggregates (map-side combine) collapsing "
        "to a single row, and the 5-row report explodes from that row "
        "— a single Exchange end to end, at any corpus size."
    ),
    "sketch_profile": (
        "Sketch-lane gate: TWO partial-aggregable scans (GK quantile + "
        "HLL++ sketch pass, then the exact-rank count pass) joined on "
        "the 5-row group key — at 100 TB only fixed-size sketch "
        "registers and count partials cross either Exchange; the k-row "
        "sketch frame that joins back is a BroadcastExchange."
    ),
    "pmi_collocations": (
        "Collocations: bigram and unigram counts each shuffle once on "
        "the gram; the min-count HAVING prunes the pair table BEFORE "
        "the two unigram joins, which AQE turns into broadcasts; the "
        "totals are a broadcast single row and the top-k is "
        "TakeOrderedAndProject — ranking on the raw ratio keeps the "
        "cut libm-free."
    ),
    "nb_quality": (
        "Seed-set Naive Bayes quality filter (registered r8): the trained "
        "LLR model is a vocabulary-sized frame riding a "
        "BroadcastExchange onto the corpus token stream — the crawl "
        "side never shuffles for the join; class totals and the prior "
        "are broadcast single rows; the only corpus-keyed Exchange is "
        "the map-side-combinable per-doc reduce. Train once, broadcast "
        "against any future corpus: at 100 TB the model build reads "
        "only the seed sample."
    ),
    "pagerank_links": (
        "Integer-grid PageRank (registered r9): per iteration ONE "
        "equi-join of the rank frame onto the edge list (pre-"
        "partitioned by src once — every iteration reuses the layout) "
        "and ONE map-side-combinable sum keyed on dst; the teleport "
        "re-base is a scan-stage projection. All arithmetic is int64 "
        "(rank div outdeg, 85*sum div 100) so the plan carries longs, "
        "never doubles, and the result is partitioning-invariant. "
        "Eager localCheckpoint lineage cuts cap the plan depth — every "
        "iteration at width (measured 2x over every-4 batching, "
        "SCALE_NOTES r9), every 3rd frame in the collapsed-to-1-"
        "partition regime where job scheduling dominates (paired "
        "A/B, SCALE_NOTES r10) — so the formatted plan below is "
        "the final checkpointed stanza, not 10 stacked copies.  r12: "
        "the REGISTERED plan passes tiny_threshold=100k, so the "
        "sub-threshold fixture graph collapses the whole grid into "
        "one bit-identical Arrow task (4.09 → 1.01 s at sf0.1); the "
        "plan below therefore shows the MapInPandas lane — graphs "
        "above the threshold keep the distributed stanza described "
        "above, which is the 100 TB shape.  The gate count and the "
        "tiny task each evaluate the edge upstream once — fine here "
        "(cheap synthetic projection); expensive-upstream callers "
        "materialize first (host_pagerank checkpoints the host edge "
        "list — SCALE_NOTES r12 addendum)."
    ),
    "semantic_decontaminate": (
        "Embedding decontamination (registered r9): the eval set rides a "
        "BroadcastExchange into a BroadcastNestedLoopJoin against the "
        "corpus scan (eval suites are small; the corpus never "
        "shuffles for the pair stage); per-pair cost is one dot fold "
        "over precomputed norms, and the per-train argmax is an "
        "order-insensitive max(struct) HashAggregate — map-side "
        "combinable, no window sort over the pair stream."
    ),
    "readability": (
        "Flesch readability (registered r9): a single scan-stage project "
        "— two regexp counts, a token count and one fixed double "
        "expression inside WholeStageCodegen; zero Exchanges, "
        "ReadSchema pruned to (doc_id, text). The classic shape every "
        "per-row quality feature should compile to."
    ),
    "hard_negatives": (
        "Hard-negative mining (registered r10): the anchor panel rides "
        "a broadcast INTO one ArrowEvalPython/mapInPandas pool scan "
        "(the pool — the unbounded side — is scanned once and never "
        "shuffled for scoring); the kernel pre-reduces each pool batch "
        "to its local per-anchor top-k, so the only Exchange in the "
        "plan is the ranked window over surviving candidates keyed on "
        "anchor_id (k*batches rows per anchor, not the pool). Lane "
        "choice never runs an action."
    ),
    "kfold_column": (
        "Leakage-safe k-fold assignment (registered r10): a pure "
        "scan-stage project — two md5/conv/pmod expression chains "
        "inside WholeStageCodegen, zero Exchanges; keying the hash on "
        "the GROUP column is what makes the fold leakage-safe, and "
        "costs nothing over the row-keyed form."
    ),
    "temperature_mixture": (
        "Temperature mixture (registered r10): one map-side-combinable "
        "group-count aggregate (group-cardinality rows collect to "
        "derive the ∝|g|^α rates), then the selection is a broadcast "
        "equi-join of the tiny rate table onto the corpus scan with a "
        "hash-fraction predicate — deterministic, RNG-free, no corpus "
        "shuffle."
    ),
    "split_leakage": (
        "Cross-split contamination audit (registered r11): the exact "
        "lane is a fingerprint self-equi-join (shuffle keyed on the "
        "md5 fingerprint — pairs exist only within equal fingerprints); "
        "the near lane rides the banded portable-MinHash machinery "
        "(bucket-join, never all-pairs) with exact-Jaccard "
        "verification; both pair sets broadcast-join the tiny "
        "(doc_id → split) table, and the per-(rule, split_a, split_b) "
        "report is one ranked-window pass over cross-split pairs. "
        "At 100 TB every stage inherits the proven dedup shapes — the "
        "audit costs one dedup pass, not a new algorithm."
    ),
    "host_authority": (
        "Crawl authority chain (registered r12): page synthesis and the href "
        "scan are one codegen project (regexp_replace comment/script "
        "strip + regexp_extract_all — no Python anywhere before the "
        "graph), host edges are a distinct over (src, dst) host "
        "strings, and PageRank runs the integer grid on xxhash64 host "
        "ids with ranks joined back to names.  At crawl scale the "
        "graph is host-grain (~5 orders below pages), so every "
        "per-iteration join is tiny relative to the corpus scan that "
        "feeds it."
    ),
    "txn_merge": (
        "ACID MERGE surface (registered r13): the final state reads "
        "back through the TxnTable snapshot log, so the plan is a "
        "plain parquet scan over the live files named by the commit "
        "log — every MERGE branch (replace / insert / untouched) was "
        "resolved at WRITE time into rewritten+appended files, which "
        "is exactly the copy-on-write story at cluster scale: readers "
        "never pay a runtime anti/union, they scan the already-merged "
        "snapshot with min/max data-skipping stats per directory.  "
        "The DuckDB twin derives the same state declaratively (anti "
        "∪ update set), so the hash gate proves the log replay "
        "equals the MERGE algebra."
    ),
}

# Streaming replay gates: their query functions RUN the availableNow
# replay and return a batch frame over the memory sink, so the batch
# explain would only show a LocalTableScan.  Instead the executed
# MICRO-BATCH plan is captured from the StreamingQuery after the drain
# (streaming/ingest.LAST_REPLAY_QUERY) — that plan is what a
# production cluster executes every trigger.
STREAMING_COMMENTARY = {
    "ohlc_stream_replay": (
        "Streaming OHLC candles: the micro-batch plan is a windowed "
        "StateStoreRestore → partial agg → StateStoreSave sandwich on "
        "(user_id, window) — min_by/max_by candle partials are "
        "mergeable, so each trigger shuffles only per-key candle "
        "state, never raw ticks twice.  Watermark on the event time "
        "bounds the state store: windows older than the watermark are "
        "evicted after they finalize.  Under availableNow replay the "
        "same operators run with one (or few) batches — identical "
        "semantics, which is why the DuckDB batch oracle can "
        "hash-gate the streaming runtime."
    ),
    "interval_join_stream_replay": (
        "Stream-stream interval join: both sides carry watermarks and "
        "the join predicate includes the two-sided time range, so the "
        "StreamingSymmetricHashJoin keeps only in-interval rows in "
        "each side's state store (the state-bounding contract for "
        "stream-stream joins at scale — without the range the state "
        "would grow unboundedly).  The plan shows per-side state "
        "store operators keyed on user; matches emit as soon as both "
        "sides arrive, and watermark passage evicts expired rows.  "
        "StreamingQuery.explain() returns the LAST executed "
        "micro-batch — under availableNow that is the final drain "
        "epoch with empty LocalTableScan sources; the load-bearing "
        "parts are the StreamingSymmetricHashJoin condition and the "
        "`state cleanup` value predicates derived from it (watermark "
        "minus the 30-minute range on each side), which are identical "
        "in every epoch.  The file-scan source shape is visible in "
        "the ohlc_stream_replay section above."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sys.path.insert(0, ".")
    from market_insights_app_spark.plans.registry import QUERIES
    from market_insights_app_spark.session import get_spark

    spark = get_spark(app_name="mias-explain", cpus="8")
    out = io.StringIO()
    out.write(
        "# EXPLAIN — physical plans of the flagship queries\n\n"
        f"Generated by `scripts/generate_explain.py` at `{sf_dir}`. "
        "What to look for in each plan is noted above it; regenerate "
        "after any plan-affecting change.\n"
    )
    for name, note in COMMENTARY.items():
        if name == "txn_merge_rewrite":
            import shutil as _shutil
            import tempfile as _tempfile

            from pyspark.sql import functions as F

            from market_insights_app_spark.storage.txnlog import TxnTable

            _root = _tempfile.mkdtemp(prefix="expl_txn_")
            t = TxnTable(spark, f"{_root}/t")
            mk = lambda lo, n: spark.range(lo, lo + n).select(  # noqa: E731
                F.col("id").alias("k"), F.sha1(F.col("id").cast("string")).alias("v")
            )
            t.append(mk(0, 5_000), stats_col="k")
            t.append(mk(100_000, 5_000), stats_col="k")
            upd = mk(100_100, 50)
            snap = t.snapshot()
            # same pruning the merge itself performs: stats say only the
            # second directory overlaps the update key range
            touched = [
                d for d in snap.dirs
                if not (snap.files[d]["stats"]["max"] < 100_100
                        or snap.files[d]["stats"]["min"] > 100_149)
            ]
            assert len(touched) == 1, touched
            tgt = t._read_dirs(touched, snap.schema_json)
            kept = tgt.join(upd.select("k").distinct(), on=["k"], how="left_anti")
            df = kept.unionByName(upd)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            _shutil.rmtree(_root, ignore_errors=True)
            out.write(f"\n## {name}\n\n{note}\n\n```\n{buf.getvalue().strip()}\n```\n")
            continue
        elif name == "exact_jaccard_pairs":
            from market_insights_app_spark.operators.dedup import exact_jaccard_pairs
            from market_insights_app_spark.sources.tables import load_table

            df = exact_jaccard_pairs(
                load_table(spark, sf_dir, "documents"), threshold=0.5, shingle_n=1
            )
        else:
            df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.write(f"\n## {name}\n\n{note}\n\n```\n{buf.getvalue().strip()}\n```\n")
    for name, note in STREAMING_COMMENTARY.items():
        from market_insights_app_spark.streaming import ingest

        QUERIES[name](spark, sf_dir).collect()  # runs the replay
        q = ingest.LAST_REPLAY_QUERY
        buf = io.StringIO()
        with redirect_stdout(buf):
            q.explain()
        out.write(
            f"\n## {name} (executed micro-batch plan)\n\n{note}\n\n"
            f"```\n{buf.getvalue().strip()}\n```\n"
        )
    with open("EXPLAIN.md", "w") as f:
        f.write(out.getvalue())
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
