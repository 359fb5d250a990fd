"""Deterministic sampling / corpus splitting — training-data pipeline
primitives the reference app has no analog for (SURVEY §2 extension
mandate).

Reproducibility contract: the split/sample decision for a row is a pure
function of (salt, row id) — md5-based, so it is identical across
engines (differentially tested against DuckDB), across runs, across
cluster sizes, and stable under repartitioning. At 100 TB this matters
twice over:

- the decision is a scan-level column expression (no shuffle, no RNG
  state, no ``sample()`` nondeterminism across retries — Spark task
  retries re-draw ``rand()``, silently changing results);
- a sample/split predicate composed into a query stays pushdown-eligible
  and prunes work everywhere downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_HASH_SPACE = float(1 << 32)  # first 8 md5 hex chars → uniform 32-bit int


def hash_fraction(id_col: Column | str, salt: str) -> Column:
    """Uniform [0, 1) fraction from md5(salt:id) — deterministic,
    engine-portable (DuckDB twin: CAST('0x'||substr(md5(..),1,8) AS
    BIGINT) / 2^32)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt + ":"), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(_HASH_SPACE)


def split_column(
    id_col: Column | str,
    weights: list[tuple[str, float]],
    salt: str = "split-v1",
) -> Column:
    """Label column assigning each row to one split with the given
    weights (ordered list, e.g. [("train", .9), ("val", .05),
    ("test", .05)]); weights must sum to 1."""
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    frac = hash_fraction(id_col, salt)
    expr = None
    acc = 0.0
    for label, w in weights[:-1]:
        # round the cumulative threshold: 0.9 + 0.05 in IEEE is
        # 0.9500000000000001, but an engine-portable contract (and the
        # DuckDB oracle literal) needs the nearest double to 0.95
        acc = round(acc + w, 12)
        cond = frac < F.lit(acc)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last_label = weights[-1][0]
    return (F.lit(last_label) if expr is None else expr.otherwise(last_label)).alias(
        "split"
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: list[tuple[str, float]] | None = None,
    salt: str = "split-v1",
) -> DataFrame:
    """Reproducible train/val/test corpus split: adds a ``split``
    column. Pure projection — zero shuffles."""
    weights = weights or [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    return df.withColumn("split", split_column(id_col, weights, salt))


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Reproducible Bernoulli(fraction) sample as a pure filter
    predicate — unlike ``DataFrame.sample`` it is stable under task
    retries and identical on every engine/cluster."""
    return df.filter(hash_fraction(id_col, salt) < F.lit(fraction))


def stratified_cap(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "strat-v1",
) -> DataFrame:
    """Deterministically downsample over-represented groups to ≈``cap``
    rows each (corpus language/source balancing): keep a row iff its
    hash fraction < cap / |group|. Groups at or under the cap pass
    through untouched.

    Bernoulli with exact expectation rather than an exact count — the
    keep decision stays a pure per-row predicate (no per-group sort or
    rank window over 100 TB), and the group sizes arrive via one
    broadcast-joined aggregate. The same (salt, id) always survives or
    not for a given group size, so reruns and engines agree exactly.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
    out = df.join(F.broadcast(counts), group_col)
    keep = hash_fraction(id_col, salt) < F.least(
        F.lit(1.0), F.lit(float(cap)) / F.col("__gn")
    )
    return out.filter(keep).drop("__gn")


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix-v1",
) -> DataFrame:
    """Deterministic mixture resampling: downsample each group so the
    surviving corpus matches the target proportions ``weights`` (the
    training-data mixing step — e.g. web 0.5 / books 0.3 / code 0.2).

    ``weights`` are RELATIVE proportions over the listed groups; groups
    absent from ``weights`` are dropped (the mixture spec is the
    allowlist). The binding group — smallest |group|/weight ratio — is
    kept (almost) whole and every other group is thinned to match, so
    the output is the LARGEST corpus achieving the target mixture.

    A group named in ``weights`` but EMPTY in the data makes the target
    mixture unachievable (its ratio would bind at zero); that raises at
    execution time rather than silently returning a corpus that
    deviates from the requested proportions.

    Scale shape mirrors ``stratified_cap``: group sizes via one tiny
    aggregate, the feasible total via a one-row global min, per-group
    keep-rates broadcast back, and the keep decision itself a pure
    (salt, id) hash predicate — no rank window, no per-group sort, no
    RNG state; identical across engines, reruns, and repartitioning.
    Bernoulli with exact expectation rather than exact counts (same
    contract as ``stratified_cap``)."""
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        sorted((g, float(w)) for g, w in weights.items()),
        f"{group_col} string, __w double",
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
    # left join FROM the weight spec so a weighted-but-empty group
    # survives to the rates side with a null count, where it raises —
    # an inner join would silently drop it from the binding-ratio min
    j = w_df.join(F.broadcast(counts), group_col, "left")
    n_cap = j.agg(F.min(F.floor(F.col("__gn") / F.col("__w"))).alias("__N"))
    rates = j.crossJoin(F.broadcast(n_cap)).select(
        group_col,
        F.when(
            F.col("__gn").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("mixture_sample: group named in weights has no rows: "),
                    F.col(group_col),
                )
            ),
        )
        .otherwise(
            F.least(F.lit(1.0), F.col("__N") * F.col("__w") / F.col("__gn"))
        )
        .alias("__rate"),
    )
    out = df.join(F.broadcast(rates), group_col)
    return out.filter(hash_fraction(id_col, salt) < F.col("__rate")).drop("__rate")


def shard_hash(id_col: Column | str, salt: str) -> Column:
    """Uniform 32-bit shuffle key from md5(salt:id) — the same
    engine-portable construction as ``hash_fraction``, kept as an
    integer so it can double as a sort key."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt + ":"), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def shard_assign(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shuf-v1",
) -> DataFrame:
    """Deterministic global corpus shuffle for training-data writes:
    every row gets a ``shard`` (hash mod n_shards) and a ``pos`` (its
    rank within the shard, ordered by the hash).

    This is how a 100 TB corpus gets a reproducible random order
    WITHOUT a global sort: reading shards 0..n-1 each in ``pos`` order
    IS the permutation, yet no operator ever sees more than one
    shard's rows — the only exchange is the hash partition by shard,
    and the per-shard sort is the write-side local sort every shuffle
    output does anyway (`repartition(n, shard).sortWithinPartitions`).
    The (salt, id) hash makes the permutation identical across
    engines, reruns, retries, and cluster sizes."""
    h = shard_hash(id_col, salt)
    out = df.withColumn("__h", h).withColumn(
        "shard", F.pmod(F.col("__h"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return out.withColumn("pos", F.row_number().over(w)).drop("__h")


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling") — select raw-corpus
# documents whose hashed-n-gram distribution looks like a target
# corpus.  No reference analog; core LLM-data-pipeline op.
# ---------------------------------------------------------------------------


def hashed_ngram_buckets(
    text_col: Column | str, n_buckets: int = 1024
) -> Column:
    """Unigram+bigram stream of the normalized text, each gram hashed
    into one of ``n_buckets`` buckets — WITH multiplicity (DSIR models
    gram counts, so this is deliberately not the distinct-shingle set
    the dedup family uses).  The md5-derived hash is engine-portable
    (same arithmetic as dedup._base_hash), so a DuckDB oracle
    replays the bucketing exactly."""
    from market_insights_app_spark.functions.text import norm_tokens

    toks = norm_tokens(text_col)
    k = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, k),
        F.slice(toks, 2, k),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(toks, bigrams)
    return F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        % n_buckets,
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-document importance weight: Σ_gram log p̂_target(bucket) −
    log p̂_raw(bucket), Laplace-smoothed over the hashed-n-gram bucket
    vocabulary.  High weight ⇒ the doc's gram distribution resembles
    the target corpus.

    Scale shape: two bucket-count aggregates (≤ n_buckets rows each —
    broadcastable), one explode + groupBy over the raw corpus; the two
    corpus-total scalars are a bounded 2-row collect (same two-pass
    pattern as the histogram bounds).  Returns (id, weight)."""
    rb = raw.select(
        F.col(id_col), F.explode(hashed_ngram_buckets(text_col, n_buckets)).alias("b")
    )
    tb = target.select(F.explode(hashed_ngram_buckets(text_col, n_buckets)).alias("b"))
    # ONE tokenize+hash pass per corpus: the per-(doc, bucket) table is
    # cached (it is 1-2 orders smaller than the gram stream it reduces)
    # and every other statistic rolls up from it — bucket counts are a
    # ≤ n_buckets aggregate of doc_b, totals a 1-row sum of those.  The
    # previous shape re-exploded the raw corpus three times (counts,
    # total, doc-grams) and the target twice; measured best-of-4
    # 2.5 s → 1.7 s warm at sf0.1.  The log-ratio EXPRESSIONS are unchanged (same JVM ops
    # on the same integers → identical doubles, oracle-stable).
    doc_b = (
        rb.groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    t_counts = tb.groupBy("b").agg(F.count(F.lit(1)).alias("tc")).persist()
    r_counts = doc_b.groupBy("b").agg(F.sum("n").alias("rc"))
    # Both corpus-total scalars come back in ONE driver action as a
    # UNION of the two 1-row aggregates (r14): the r13 crossJoin form
    # also ran one action, but its 1-row build side went through a
    # broadcast exchange whose builder thread raced the stream side
    # into the not-yet-materialized persisted subtrees — the same
    # failure mode as the broadcast-scalar fold falsified in commit
    # ce6750b, and the clean r14 baseline run flagged it
    # (1.013 → 1.612 s cold).  Union children are independent stages of
    # one job: they overlap across cores with no broadcast thread and
    # no shared subtree (the t-side never touches doc_b).  Cold
    # best-of-3 ×2 interleaved: union 1.512/1.643 s vs crossJoin
    # 1.927/1.808 s vs sequential .first()s 2.854/2.017 s.  The totals
    # stay Python ints spliced in as literals, so the log-ratio doubles
    # are bit-identical.
    tots = {
        r["side"]: r["v"]
        for r in t_counts.agg(F.sum("tc").alias("v"))
        .select("v", F.lit("t").alias("side"))
        .unionByName(
            r_counts.agg(F.sum("rc").alias("v")).select(
                "v", F.lit("r").alias("side")
            )
        )
        .collect()
    }
    t_total = tots.get("t") or 0
    r_total = tots.get("r") or 0
    lr = (
        r_counts.join(t_counts, "b", "left")
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / float(t_total + n_buckets))
                - F.log((F.col("rc") + 1.0) / float(r_total + n_buckets))
            ).alias("lr"),
        )
    )
    return (
        doc_b.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("n") * F.col("lr")), 6).alias("weight"))
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Top-k raw docs by DSIR weight (deterministic id tie-break) — the
    selection step after weighting; TakeOrderedAndProject, no global
    sort."""
    w = dsir_weights(raw, target, id_col, text_col, n_buckets)
    return w.orderBy(F.col("weight").desc(), F.col(id_col).asc()).limit(k)


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample-v1",
) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-Res scheme: each row draws u ∈ (0, 1] and is
    ranked by key = ln(u)/w (the order-equivalent log form of u^(1/w));
    the global top-k by key are the sample.  Inclusion probability is
    proportional to weight, exactly the "sample 10 M docs favoring
    high quality-score" primitive a corpus pipeline runs.

    Determinism contract, same as every sampler here: u comes from
    ``hash_fraction`` (md5(salt:id)), shifted by one 2⁻³² quantum so
    u > 0 (ln(0) guard) — reproducible across engines, runs, cluster
    sizes, and task retries (``rand()`` re-draws on retry; this
    doesn't).  The key is rounded to 9 dp BEFORE ranking so the ln
    libm ulp cannot flip a cross-engine ordering, and exact key ties
    break by ascending id.

    Scale shape: keys are scan-stage expressions; the global top-k is
    orderBy+limit → TakeOrderedAndProject (per-partition heap + one
    k-row merge), never a global sort.  Rows with NULL or
    non-positive weight are excluded (they'd have inclusion
    probability 0)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    w = F.col(weight_col).cast("double")
    h = F.md5(F.concat(F.lit(salt + ":"), c.cast("string")))
    u = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") + 1) / F.lit(
        _HASH_SPACE
    )
    key = F.round(F.log(u) / w, 9)
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), c.asc())
        .limit(k)
    )


def sample_n_per_group(
    df: DataFrame,
    group_cols: list[str],
    n: int,
    id_col: str = "doc_id",
    salt: str = "groupsample-v1",
) -> DataFrame:
    """Deterministic fixed-size uniform sample per group — "n docs per
    domain/language" — the bounded-quota sibling of
    :func:`stratified_sample` (which keeps a FRACTION per group and so
    still mirrors group skew).  Rows rank within their group by
    md5(salt:id) (the same engine-portable hash-order contract as
    every sampler here: reproducible across engines, runs, and task
    retries, no rand() re-draw hazard) and the first ``n`` survive;
    exact hash ties break by ascending id.

    Scale shape: one shuffle on the group key; the rank-and-filter is
    a single window pass — groups larger than ``n`` never leave more
    than ``n`` rows per group past the filter."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt + ":"), c.cast("string")))
    w = Window.partitionBy(*[F.col(g) for g in group_cols]).orderBy(
        h.asc(), c.asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def temperature_mixture(
    df: DataFrame,
    alpha: float,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "temp-mix-v1",
) -> DataFrame:
    """Temperature-based mixture resampling: target proportions
    ∝ |group|^alpha — the multilingual/domain sampling-temperature
    knob (mT5 / XLM-R style).  alpha = 1 reproduces the natural
    distribution (keeps everything); alpha = 0 targets the uniform
    mixture; in between, low-resource groups are up-weighted RELATIVE
    to their size while the corpus stays as large as the binding
    group allows (the ``mixture_sample`` contract — this operator just
    derives the weight vector from the data instead of taking it as
    input).

    The group-count collect is bounded by group cardinality (sources /
    languages — the k-means-k class of driver scalar).  Everything
    downstream is ``mixture_sample``'s hash-predicate machinery:
    deterministic across engines, reruns, and repartitioning.

    NULL-group rows are DROPPED, never a crash: they could not survive
    anyway (``mixture_sample`` joins on the group key, and a SQL
    equi-join never matches NULL), so they are excluded from the
    count-derived weight vector up front — the same NULL contract as
    ``kfold_column``'s explicit 'NULL-key' handling, resolved here by
    exclusion because a NULL group has no meaningful size weight."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    sizes = {r[group_col]: r["n"] for r in counts if r["n"] > 0}
    if not sizes:
        return df.limit(0)
    # r13: the collected counts already determine the keep-rates, so
    # deriving them here and broadcasting the rate table drops
    # mixture_sample's in-plan group recount — one full corpus pass
    # fewer (3 → 2 including the count job).  The arithmetic replays
    # mixture_sample's expression chain operation for operation
    # (float64 throughout: w = n^alpha, N = min ⌊gn/w⌋, rate =
    # min(1, N·w/gn)) so every rate double — and therefore the hash
    # predicate's survivor set — is bit-identical to the
    # mixture_sample path.  Its weighted-but-empty raise cannot fire
    # here by construction (every group comes from the data).
    import math

    weights = {g: float(n) ** alpha for g, n in sizes.items()}
    n_cap = min(math.floor(n / weights[g]) for g, n in sizes.items())
    rates = sorted(
        (g, min(1.0, n_cap * weights[g] / sizes[g])) for g in sizes
    )
    rates_df = df.sparkSession.createDataFrame(
        rates, f"{group_col} string, __rate double"
    )
    out = df.join(F.broadcast(rates_df), group_col)
    return out.filter(
        hash_fraction(id_col, salt) < F.col("__rate")
    ).drop("__rate")


def kfold_column(
    id_col: Column | str,
    k: int,
    salt: str = "kfold-v1",
) -> Column:
    """Cross-validation fold id in [0, k): the md5-hash analog of
    ``split_column`` for k-fold CV — deterministic, engine-portable,
    uniform in expectation, and stable under repartitioning/reruns.
    Key it on a DOMAIN/group column instead of the row id (exactly like
    ``q_domain_split``) and every page of a site lands in one fold —
    the leakage-safe construction: near-duplicate members of a group
    can never straddle a fold boundary and leak train into eval.

    NULL keys hash as the string 'NULL-key' (one deterministic fold)
    rather than producing a NULL fold id."""
    if k < 1:
        raise ValueError("k must be >= 1")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(
        F.concat(
            F.lit(salt + ":"),
            F.coalesce(c.cast("string"), F.lit("NULL-key")),
        )
    )
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(k)
    ).cast("int").alias("fold")
