"""Repetition / diversity quality signals over a document corpus —
Gopher-style filters (Rae et al. 2021, "Scaling Language Models",
appendix A1.1) a training-data pipeline runs before anything else:
heavily repetitive documents (boilerplate, keyword stuffing, scraper
loops) are dropped by thresholding these ratios.

Companion to ``functions.text.quality_features`` (pure per-row
expressions); the signals here need token/bigram *frequency* within the
document, so they are DataFrame operators: explode → two-level groupBy.
Both levels are map-side combinable and keyed on the doc id, so at
100 TB this is two linear shuffles — no window over the whole corpus,
no driver involvement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from market_insights_app_spark.functions.text import STOPWORDS as _STOPWORDS
from market_insights_app_spark.functions.text import tokens


def _lower_tokens(text_col: str) -> Column:
    # case-folded whitespace tokens: repetition is case-insensitive
    return tokens(F.lower(F.col(text_col)))


def _bigrams_of(toks: Column) -> Column:
    """Word bigrams WITH multiplicity (``word_shingles`` dedups, which
    is right for Jaccard but wrong for repetition counting) off an
    already-tokenized array column — the r13 single-tokenize lane (the
    regex tokenizer runs once per corpus pass; bigram derivation is a
    cheap shifted-slice array zip, O(tokens) per doc)."""
    k = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, k),
        F.slice(toks, 2, k),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition/diversity ratios:

    - ``n_tokens``          total (case-folded) tokens
    - ``distinct_ratio``    distinct tokens / tokens  (low ⇒ repetitive)
    - ``top_token_share``   most frequent token's share of all tokens
    - ``top_bigram_share``  most frequent bigram's share of all bigrams
                            (NULL for docs with < 2 tokens)

    Ratios are emitted unrounded: they are IEEE divisions of exact
    integer counts, bit-identical across engines (rounding could land on
    a decimal half-way point and diverge). Documents with zero tokens
    produce no output row (nothing to measure).
    """
    # r13 single-tokenize: the token and bigram lanes each ran the
    # regex tokenizer over the full text; materialize the token arrays
    # once (intra-query checkpoint, freed with the plan) and derive
    # both explodes from them.
    base = df.select(
        F.col(id_col).alias("id"), _lower_tokens(text_col).alias("__toks")
    ).localCheckpoint(eager=False)

    tok = base.select("id", F.explode("__toks").alias("tok"))
    tok_counts = tok.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_tok = tok_counts.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_tok"),
    )

    big = base.select("id", F.explode(_bigrams_of(F.col("__toks"))).alias("g"))
    big_counts = big.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    per_big = big_counts.groupBy("id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_big")
    )

    return (
        per_tok.join(per_big, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens"),
            (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio"),
            (F.col("top_tok") / F.col("n_tokens")).alias("top_token_share"),
            (F.col("top_big") / F.col("n_bigrams")).alias("top_bigram_share"),
        )
    )


def repetition_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_distinct_ratio: float = 0.2,
    max_top_token_share: float = 0.2,
    max_top_bigram_share: float = 0.18,
) -> DataFrame:
    """Filter a corpus to documents passing the repetition thresholds
    (defaults in the ballpark of the published Gopher rules). Keeps the
    original columns; drops zero-token docs (no signal ⇒ no keep)."""
    feats = repetition_features(df, id_col, text_col).select(
        id_col, "distinct_ratio", "top_token_share", "top_bigram_share"
    )
    keep = (
        (F.col("distinct_ratio") >= F.lit(min_distinct_ratio))
        & (F.col("top_token_share") <= F.lit(max_top_token_share))
        & (
            F.col("top_bigram_share").isNull()
            | (F.col("top_bigram_share") <= F.lit(max_top_bigram_share))
        )
    )
    return df.join(
        feats.filter(keep).select(id_col), id_col, "left_semi"
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    low_quality_below: float | None = None,
) -> DataFrame:
    """Unigram language-model quality score — the KenLM-perplexity-
    filter shape (CCNet / Wenzek et al. 2020) with the LM trained on
    the corpus itself: P(w) = count(w)/total over all tokens, and each
    document scores avg ln P(w) over its own tokens (higher = more
    typical; heavy rare-token documents score low).

    Output: (id, n_tokens, avg_logprob[, low_quality]) — the flag is
    emitted when ``low_quality_below`` is given.

    Scale shape: explode → one vocabulary groupBy (vocabulary-sized,
    tiny vs corpus), total via a broadcast 1-row aggregate, the score
    join is token-stream × broadcast(vocab), and the per-doc reduce is
    a map-side-combinable groupBy(id). Two linear shuffles, no window,
    no driver state — the same LM trained once can be broadcast
    against any future corpus for cross-corpus scoring.

    Determinism: ln computed in doubles; avg rounded to 6 dp (the
    DuckDB twin hash-matches; per-doc token counts are small enough
    that summation-order ulps sit far below the rounding grain)."""
    # r13 single-tokenize: the vocabulary build and the score join
    # each ran the regex tokenizer over the full text; materialize the
    # token arrays once and explode twice (cheap array op).
    tarr = df.select(
        F.col(id_col), _lower_tokens(text_col).alias("__toks")
    ).localCheckpoint(eager=False)
    toks = tarr.select(F.col(id_col), F.explode("__toks").alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lp = (
        toks.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.log(F.col("cnt").cast("double") / F.col("total")).alias("lp"),
        )
    )
    out = lp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    if low_quality_below is not None:
        out = out.withColumn(
            "low_quality", F.col("avg_logprob") < F.lit(low_quality_below)
        )
    return out


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram language-model score with Laplace smoothing — one LM
    order up from ``unigram_logprob``, the closest SQL-expressible
    shape to the KenLM 5-gram filter CCNet (Wenzek et al. 2020) runs:

        P(w2 | w1) = (c(w1 w2) + 1) / (c1(w1) + V)

    with c(w1 w2) the corpus bigram count, c1(w1) the count of bigrams
    whose context is w1 (Σ_w2 c(w1 w2)), and V the unigram vocabulary
    size. Each document scores the average ln P over its own bigrams,
    plus ``ppl = exp(-avg)`` — CCNet's reported number. Documents with
    fewer than two tokens have no bigrams and drop out (the caller can
    left-join them back as unscored).

    Scale shape: the doc→bigram stream joins the bigram-count table
    co-partitioned on the bigram (sort-merge; at open-web scale that
    table is corpus-sized and must NOT be broadcast), the context
    counts derive FROM the bigram table (vocabulary-sized groupBy,
    broadcast back), and V is a broadcast scalar. The per-doc reduce is
    a map-side-combinable groupBy(id). Three linear shuffles total.

    Determinism: counts are exact integers; the probability is one
    double division, ln in doubles, avg rounded to 6 dp; ppl rounds
    exp(-avg) to 4 dp (relative ulp noise ≪ both grains).

    r13: the corpus is tokenized ONCE into a lazily-materialized token
    table that feeds all three consumers (bigram stream, count table,
    vocabulary).  The naive plan ran the regex tokenizer over the full
    text FOUR times — pairs' join side, bgc, w1c and vocab each scanned
    the corpus, and exchange reuse could not merge bgc with w1c's
    rebuild because the joins push DIFFERENT null filters into each
    subtree (isnotnull(bg) vs isnotnull(split(bg,' ')[0])).  The bigram
    count table is likewise materialized once so w1c derives from it
    instead of re-aggregating the corpus; both checkpoints are
    intra-query (computed fresh per invocation, freed with the plan)."""
    toks_df = df.select(
        F.col(id_col), _lower_tokens(text_col).alias("__toks")
    ).localCheckpoint(eager=False)
    k = F.greatest(F.size("__toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("__toks", 1, k),
        F.slice("__toks", 2, k),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    pairs = toks_df.select(F.col(id_col), F.explode(bigrams).alias("bg"))
    bgc = (
        pairs.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    w1c = (
        bgc.select(F.split("bg", " ", 2).getItem(0).alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    vocab_n = toks_df.select(F.explode("__toks").alias("t")).agg(
        F.count_distinct("t").alias("v")
    )
    lp = (
        # merge hint: the bigram-count table is corpus-sized at open-web
        # scale — pin the co-partitioned shuffle join so a small-corpus
        # size estimate can't bake a broadcast into the shape
        pairs.join(bgc.hint("merge"), "bg")
        .withColumn("w1", F.split("bg", " ", 2).getItem(0))
        .join(F.broadcast(w1c), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            F.col(id_col),
            F.log(
                (F.col("c12") + F.lit(1)).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("lp"),
        )
    )
    return lp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing: score every
    document with the corpus-trained unigram LM, then split each
    language into three equal-count tiers — head = most typical
    (highest avg log-prob = lowest perplexity), the tier CCNet keeps
    preferentially for LM training.

    The gate path assigns tiers with ``ntile(3)`` over the per-lang
    total order (score DESC, id ASC) — pure integer rank arithmetic,
    bit-identical across engines, no interpolated-threshold edge cases.
    The per-lang sort is one skewed-window shuffle; at 100 TB swap to
    the documented scale path: approx_percentile tertile thresholds per
    lang (one aggregate) broadcast back as a comparison map — same
    tiers up to sketch error, no global sort."""
    from pyspark.sql.window import Window

    scores = unigram_logprob(df, id_col=id_col, text_col=text_col)
    scored = scores.join(
        df.select(F.col(id_col), F.col(lang_col)), id_col
    )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col).asc()
    )
    tier = F.ntile(3).over(w)
    return scored.select(
        F.col(id_col),
        F.col(lang_col),
        "n_tokens",
        "avg_logprob",
        F.when(tier == 1, F.lit("head"))
        .when(tier == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def token_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Shannon entropy of each document's unigram (case-folded
    whitespace-token) distribution, plus the type count and the
    type-normalized entropy in [0, 1] — the information-density signal
    between :func:`repetition_features`' ratio heuristics and the
    bigram LM's corpus statistics: boilerplate and keyword-stuffed
    docs score low, diverse prose scores high.

    entropy = −Σ p·ln p is computed via the algebraic identity
    ln T − (Σ c·ln c)/T over the per-token counts, so ONE aggregate
    per doc suffices (no second pass to learn T first).  A doc whose
    tokens are all identical gets exactly 0.0 (ln T − (T·ln T)/T —
    the same double subtracted from itself); single-type docs have
    NULL normalized entropy; empty docs emit no row.

    Scale shape mirrors repetition_features: explode → one
    (doc, token) count aggregate → one per-doc aggregate; entropies
    round to 6 dp (the Σ c·ln c partials are libm doubles whose
    summation order is engine-arbitrary — rounding absorbs the ulp,
    the bigram_lm contract)."""
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    tok = base.select("id", F.explode(_lower_tokens("__t")).alias("tok"))
    tc = tok.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("double")
    per = tc.groupBy("id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(cd * F.log(cd)).alias("__slnc"),
    )
    t = F.col("n_tokens").cast("double")
    ent = F.log(t) - F.col("__slnc") / t
    norm = F.when(
        F.col("n_types") > 1, ent / F.log(F.col("n_types").cast("double"))
    )
    return per.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "n_types",
        F.round(ent, 6).alias("entropy"),
        F.round(norm, 6).alias("norm_entropy"),
    )


def ngram_novelty(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Graded n-gram novelty of each document against a reference
    corpus: the fraction of the doc's DISTINCT word n-grams that do
    not appear anywhere in the reference — the scoring sibling of
    binary decontamination (drop at ~0 novelty = contaminated copy;
    weight by novelty for curriculum/dedup-aware sampling).

    Shape: distinct doc grams explode once; membership is one
    left-join marker against the reference's distinct gram set (AQE
    broadcasts it at bench scale; at web scale it shuffle-joins or
    swaps in the Bloom prefilter from operators/dedup); the ratio is
    a per-doc division of exact counts.  Docs too short for one
    n-gram emit no row (nothing to measure)."""
    from market_insights_app_spark.functions.text import word_shingles

    ref_grams = reference.select(
        F.explode(word_shingles(text_col, shingle_n)).alias("g")
    ).distinct()
    doc_grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    )
    marked = doc_grams.join(
        ref_grams.withColumn("__hit", F.lit(1)), on="g", how="left"
    )
    out = marked.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias(
            "n_novel"
        ),
    )
    return out.select(
        F.col("__id").alias(id_col),
        "n_grams",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_grams").cast("double")).alias(
            "novelty"
        ),
    )


def quality_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    wc_min: int = 25,
    wc_max: int = 95,
    mean_len_min: float = 4.3,
    mean_len_max: float = 4.8,
    stop_min: float = 0.05,
    distinct_min: float = 0.4,
) -> DataFrame:
    """Gopher-style quality-filter FUNNEL: apply the rule cascade
    (word-count band → mean-word-length band → stopword-ratio floor →
    distinct-token-ratio floor) and report survivors after each stage
    — the curation dashboard a pipeline operator reads before
    committing thresholds (per-doc pass flags are one `.filter` away;
    the funnel is the aggregate view).

    Rules are the public Gopher/C4 heuristics (Rae et al. 2021 §A1.1)
    re-thresholded for this corpus's token statistics.  Every feature
    is a deterministic integer count or an exact-operand double
    division, so stage membership is bit-identical cross-engine.

    Scale shape: ONE scan computes all features; the cascade is five
    conditional partial aggregates (map-side combine) collapsing to a
    single row, exploded driver-free into the 5-row report."""
    toks = _lower_tokens(text_col)
    wc = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_dist = F.size(F.array_distinct(toks))
    feats = df.select(
        wc.alias("wc"),
        (sum_len.cast("double") / wc.cast("double")).alias("mlen"),
        (n_stop.cast("double") / wc.cast("double")).alias("stopr"),
        (n_dist.cast("double") / wc.cast("double")).alias("distr"),
    ).filter(F.col("wc") > 0)
    p1 = (F.col("wc") >= wc_min) & (F.col("wc") <= wc_max)
    p2 = p1 & (F.col("mlen") >= mean_len_min) & (F.col("mlen") <= mean_len_max)
    p3 = p2 & (F.col("stopr") >= stop_min)
    p4 = p3 & (F.col("distr") >= distinct_min)
    # coalesce: SUM over zero rows is NULL — an empty (or fully
    # wc=0) corpus must report 0 survivors, not NULL
    one = lambda p: F.coalesce(  # noqa: E731
        F.sum(F.when(p, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    agg = feats.agg(
        F.count(F.lit(1)).alias("s0"),
        one(p1).alias("s1"),
        one(p2).alias("s2"),
        one(p3).alias("s3"),
        one(p4).alias("s4"),
    )
    names = ["total", "word_count", "mean_word_len", "stopword_ratio",
             "distinct_ratio"]
    stages = F.array(*[
        F.struct(
            F.lit(i).alias("rule_idx"),
            F.lit(nm).alias("rule"),
            F.col(f"s{i}").alias("survivors"),
            (
                (F.col(f"s{i - 1}") - F.col(f"s{i}"))
                if i else F.lit(0).cast("long")
            ).alias("dropped"),
        )
        for i, nm in enumerate(names)
    ])
    return agg.select(F.explode(stages).alias("st")).select("st.*")


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k word-bigram collocations by pointwise mutual information
    PMI(w1,w2) = ln(c_xy·T_big ⁄ (c_w1·c_w2)) with a minimum pair
    count — collocation mining for tokenizer/vocab construction (the
    association sibling of :func:`bigram_lm`'s conditional
    probabilities).

    Determinism: every count is an exact long; the RANKING key is the
    raw probability ratio — a three-op IEEE expression on exact
    integer-valued doubles, bit-identical cross-engine — with (w1,w2)
    tie-breaks, so the top-k cut never depends on `ln` libm behavior;
    the displayed PMI is rounded to 6 dp.

    Scale shape: bigram counts shuffle once on the gram; the
    min-count filter shrinks the pair table before the two unigram
    joins (AQE broadcasts the heavy-hitter-pruned sides at bench
    scale); the totals are a broadcast 1-row cross join; top-k is
    TakeOrderedAndProject, no global sort."""
    # r13 single-tokenize: per_doc feeds THREE consumers (totals,
    # unigram counts, bigram counts) and the unigram table joins
    # twice, so the naive plan ran the regex tokenizer over the full
    # corpus four times.  Materialize the token arrays once (bigrams
    # derive from them with a cheap zip) and the vocabulary-sized
    # unigram count table once; both checkpoints are intra-query.
    per_doc = df.select(_lower_tokens(text_col).alias("w")).localCheckpoint(
        eager=False
    )
    g = _bigrams_of(F.col("w"))
    tot = per_doc.agg(
        F.sum(F.size("w")).alias("t_uni"),
        F.sum(F.greatest(F.size(g), F.lit(0))).alias("t_big"),
    )
    uni = (
        per_doc.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    big = (
        per_doc.select(F.explode(g).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    pairs = big.select(
        F.split(F.col("g"), " ").getItem(0).alias("w1"),
        F.split(F.col("g"), " ").getItem(1).alias("w2"),
        "c_xy",
    )
    j = (
        pairs.join(uni.withColumnRenamed("tok", "w1")
                   .withColumnRenamed("c", "c1"), on="w1")
        .join(uni.withColumnRenamed("tok", "w2")
              .withColumnRenamed("c", "c2"), on="w2")
        .crossJoin(F.broadcast(tot))
    )
    ratio = (
        F.col("c_xy").cast("double") * F.col("t_big").cast("double")
    ) / (F.col("c1").cast("double") * F.col("c2").cast("double"))
    return (
        j.select(
            "w1", "w2", "c_xy", "c1", "c2",
            ratio.alias("__ratio"),
            F.round(F.log(ratio), 6).alias("pmi"),
        )
        .orderBy(F.desc("__ratio"), F.asc("w1"), F.asc("w2"))
        .limit(k)
        .drop("__ratio")
    )


def nb_seed_classifier(
    corpus: DataFrame,
    seeds: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "is_positive",
) -> DataFrame:
    """Seed-set Naive Bayes quality classifier — the deterministic,
    closed-form cousin of the GPT-3 / CCNet "train a classifier on a
    high-quality seed corpus, score the crawl" filter (Brown et al.
    2020 §A; Wenzek et al. 2020): a labeled ``seeds`` frame (boolean
    ``label_col``; e.g. curated/wiki-like = true, raw crawl = false)
    trains per-token Laplace-smoothed log-likelihood ratios

        llr(t) = ln((c_pos(t)+1)/(N_pos+V)) - ln((c_neg(t)+1)/(N_neg+V))

    with N_L the class token totals and V the seed vocabulary size;
    each corpus document then scores the NB log-odds

        nb_score = ln((docs_pos+1)/(docs_neg+1)) + Σ_tokens llr(t)

    (out-of-vocabulary tokens take the same formula at c=0, so the
    expression shape is identical in-vocab and OOV — no special-cased
    math for the cross-engine twin to mismatch).  Output per corpus
    doc: (id, n_tokens, nb_score, keep = nb_score > 0).  Zero-token
    documents emit no row (nothing to score), matching the other
    scoring lanes in this module.

    Scale shape: seed token counts are one vocabulary-sized groupBy;
    the llr table and the class totals are broadcast (vocabulary ≪
    corpus — the trained model is a small dimension, reusable across
    any future corpus without retraining); the corpus token stream
    joins the broadcast llr and reduces map-side-combinably on the doc
    id. One linear shuffle over the corpus, no window, no driver state.

    Determinism: all counts are exact longs; each llr is two ln's of
    long-ratio doubles subtracted once; the per-doc sum is rounded to
    6 dp (docs are short enough that double summation-order ulps sit
    ~6 orders below the grain — the argument :func:`unigram_logprob`
    pins), and the keep flag derives from the ROUNDED score so both
    engines branch on the same number."""
    pos = F.col("__pos")
    seed_toks = seeds.select(
        F.col(label_col).alias("__pos"),
        F.explode(_lower_tokens(text_col)).alias("term"),
    )
    counts = seed_toks.groupBy("term").agg(
        F.sum(F.when(pos, 1).otherwise(0)).alias("c_pos"),
        F.sum(F.when(pos, 0).otherwise(1)).alias("c_neg"),
    )
    totals = counts.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).alias("v"),
    )
    prior = seeds.agg(
        F.log(
            (F.sum(F.when(F.col(label_col), 1).otherwise(0)) + F.lit(1)).cast(
                "double"
            )
            / (
                F.sum(F.when(F.col(label_col), 0).otherwise(1)) + F.lit(1)
            ).cast("double")
        ).alias("log_prior")
    )

    def _llr(c_pos: Column, c_neg: Column) -> Column:
        p = (c_pos + F.lit(1)).cast("double") / (
            F.col("n_pos") + F.col("v")
        ).cast("double")
        q = (c_neg + F.lit(1)).cast("double") / (
            F.col("n_neg") + F.col("v")
        ).cast("double")
        return F.log(p) - F.log(q)

    llr = counts.crossJoin(F.broadcast(totals)).select(
        "term", _llr(F.col("c_pos"), F.col("c_neg")).alias("llr")
    )
    toks = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode(_lower_tokens(text_col)).alias("term"),
    )
    scored = (
        toks.join(F.broadcast(llr), "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "__id",
            # OOV = the c=0 instance of the same smoothed formula
            F.coalesce(F.col("llr"), _llr(F.lit(0), F.lit(0))).alias("llr"),
        )
    )
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("llr").alias("__s")
    )
    score = F.round(F.col("__s") + F.col("log_prior"), 6)
    return per_doc.crossJoin(F.broadcast(prior)).select(
        F.col("__id").alias(id_col),
        "n_tokens",
        score.alias("nb_score"),
        (score > F.lit(0.0)).alias("keep"),
    )


def readability_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch reading-ease readability as a corpus quality signal
    (Flesch 1948; the classic 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words) formula), with the standard automatable
    approximations: sentences = runs of ``[.!?]`` (floored at 1 so a
    headline-only doc is one sentence), syllables = vowel-group runs
    ``[aeiouyAEIOUY]+`` (the case CLASS, not lower() — locale-sensitive
    case folding diverges across engines).

    Everything is a scan-stage JVM expression — two regexp counts and
    a token count per row, no shuffle, no UDF; at 100 TB this rides
    the same single pass as the other per-row quality features.  The
    score is plain double arithmetic on integer counts with one fixed
    expression shape, so Spark and DuckDB produce bit-identical
    doubles — emitted UNROUNDED (rounding a derived double can land on
    a true half-way point and diverge between engines; identical bits
    never do).  Empty documents (zero words) get a NULL score and
    band; NULL text counts as empty.

    Bands follow the conventional Flesch table, collapsed to four:
    >= 90 very_easy, >= 60 standard, >= 30 difficult, else
    very_confusing.

    Returns (``id_col``, n_words, n_sentences, n_syllable_groups,
    flesch, band).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))  # NULL text = empty doc
    n_words = F.size(tokens(t)).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("long")
    n_syl = F.size(
        F.regexp_extract_all(t, F.lit(r"[aeiouyAEIOUY]+"), 0)
    ).cast("long")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syl.cast("double") / n_words.cast("double"))
    )
    flesch = F.when(n_words > 0, score)  # UNROUNDED: bit-identical doubles
    band = F.when(n_words == 0, F.lit(None).cast("string")).otherwise(
        F.when(flesch >= 90.0, F.lit("very_easy"))
        .when(flesch >= 60.0, F.lit("standard"))
        .when(flesch >= 30.0, F.lit("difficult"))
        .otherwise(F.lit("very_confusing"))
    )
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllable_groups"),
        flesch.alias("flesch"),
        band.alias("band"),
    )
