"""Deduplication operators — SURVEY.md §2.7 (D1-D6) plus the
training-data-pipeline near-dup family (exact, MinHash+LSH, SimHash,
n-gram Jaccard) over the ``documents`` domain.

Scale design: every near-dup algorithm here is bucketed — candidate
pairs only form inside an LSH band bucket / SimHash chunk bucket /
shared-token group, never via a full cross join. That is the difference
between O(n²) and O(n·bucket) at 100 TB.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_insights_app_spark.functions.text import (
    md5_fingerprint,
    word_shingles,
)

# ---------------------------------------------------------------------------
# Exact dedup (D1/D2/D3: INSERT OR IGNORE on natural keys, db.py:44,126-131)
# ---------------------------------------------------------------------------


def first_wins(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Deterministic D1: keep the row with the smallest ``order_col``
    per key — matches INSERT OR IGNORE arrival order when order_col is
    the ingest sequence. Ascending ranking window, so order_col may be
    any orderable type (string/timestamp), not just numeric."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact_content(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content dedup by md5 fingerprint of normalized text: one winner
    (min doc ordering handled by caller)."""
    return df.withColumn("fp", md5_fingerprint(text_col)).dropDuplicates(["fp"])


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

MERSENNE_P = (1 << 31) - 1  # 2^31-1: a*h+b stays within long range


def _affine_params(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) for the seed-th affine permutation
    h -> (a*h + b) mod p — splitmix-style, no RNG state."""
    x = (seed * 0x9E3779B97F4A7C15 + 0xD1B54A32D192ED03) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 31
    a = (x % (MERSENNE_P - 1)) + 1  # a in [1, p)
    b = (x >> 17) % MERSENNE_P
    return a, b


def _base_hash(col: Column) -> Column:
    """The MinHash base hash: first 8 hex chars of md5, mod p — 32
    bits that any SQL engine reproduces exactly, so the whole LSH
    pipeline is differentially tested (DuckDB twin:
    CAST('0x'||substr(md5(g),1,8) AS BIGINT) % p)."""
    h = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(MERSENNE_P))


def _hash_token(col: Column, seed: int) -> Column:
    """Deterministic token hash for the seed-th MinHash function:
    one md5-derived base hash + an affine permutation (a*h+b) mod p —
    the classic formulation; ~32× cheaper than re-hashing the token
    per seed. JVM-side, no UDF."""
    return _permute(_base_hash(col), seed)


def _permute(base: Column, seed: int) -> Column:
    a, b = _affine_params(seed)
    return F.pmod(base * F.lit(a) + F.lit(b), F.lit(MERSENNE_P))


def minhash_signature(text_col: Column | str, num_hashes: int = 32, shingle_n: int = 2) -> Column:
    """array<long> of length ``num_hashes``: for each hash fn i,
    min over shingles of hash_i(shingle). Empty shingle set → nulls.

    NB: the per-seed lambda must close over ``i`` via a factory — a
    default-argument lambda would be bound by Spark as the 2-arg
    (element, index) form and silently hash with the array index.
    """
    sh = word_shingles(text_col, shingle_n)

    def min_hash_for_seed(seed: int) -> Column:
        return F.array_min(F.transform(sh, lambda s: _hash_token(s, seed)))

    return F.array(*[min_hash_for_seed(i) for i in range(num_hashes)])


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 2,
) -> DataFrame:
    """MinHash signatures as a DataFrame (id, h0..h{n-1}).

    Scalable formulation: explode shingles → hash each gram once per
    seed → groupBy(id).min per seed. One shuffle on the id; shingling
    runs ONCE per document (the pure-expression ``minhash_signature``
    inlines the tokenizer into each of the 32 columns — 30×+ slower at
    5k docs, and worse at scale). Documents with zero shingles drop out
    (they cannot near-dup).

    The base hash is md5-derived (:func:`_base_hash`), so any SQL
    engine reproduces the signatures bit-for-bit.

    Output: (id, sig: array<long>[num_hashes]). The aggregation itself
    stays the wide num_hashes-min form (one shuffle carrying
    num_hashes longs per id, map-side combined — the cheapest exact
    formulation), but the result packs into ONE array column so every
    downstream plan (banding, prefilter joins) is 2 columns wide
    instead of 2×num_hashes — narrower codegen, fewer analysis-time
    expressions, smaller join projections."""
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    ).select("id", _base_hash(F.col("g")).alias("gh"))
    hashed = grams.select(
        "id", *[_permute(F.col("gh"), i).alias(f"h{i}") for i in range(num_hashes)]
    )
    agg = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return agg.select(
        "id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
    sig: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: signature → ``bands`` bands of
    ``num_hashes/bands`` rows → self-join within (band_idx, band_hash)
    buckets → distinct (a < b) pairs.  The bucket key is the
    comma-joined band values (a string), reproducible in any SQL
    engine for differential testing.

    The self-join is an equi-join on the bucket key, so Spark shuffles
    on the bucket hash — no cross product. Returns (a, b) candidate
    pairs; verify with ``ngram_jaccard`` downstream.

    ``sig``: pass a precomputed ``minhash_signatures_df`` to avoid
    recomputation across stages. ``max_bucket_size``: drop band buckets
    larger than this before the self-join — a hot bucket of size m
    yields m²/2 candidates, and at scale such buckets are low-
    information bands (standard LSH practice); None keeps everything.
    """
    if sig is None:
        sig = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_n)
    rows_per_band = num_hashes // bands

    def band_key(b: int) -> Column:
        sl = F.slice("sig", b * rows_per_band + 1, rows_per_band)
        return F.array_join(F.transform(sl, lambda c: c.cast("string")), ",")

    # (id, band, bucket) band-membership table
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"])
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )


def minhash_near_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs verified by exact shingle-set Jaccard >= threshold.
    Output: (a, b, jaccard).

    Two-stage verification: candidates are first pre-filtered by the
    signature-estimated Jaccard (fraction of matching minhash rows —
    cheap integer compares) with a generous noise margin, and only the
    survivors pay the exact shingle-set intersection. Hot-bucket
    corpora (tiny shingle spaces) otherwise drown the exact stage in
    false candidates: 50k low-entropy docs → 2.2M candidates → ~60 s of
    array_intersect; the prefilter removes ~all of them for pennies.
    """
    from pyspark import StorageLevel

    # sig is consumed three times (banding + both prefilter sides); it
    # is rows × (num_hashes+1) longs — tiny next to the corpus — so
    # cache it rather than recompute the shingling per consumer.
    sig = minhash_signatures_df(
        df, id_col, text_col, num_hashes, shingle_n
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(
        num_hashes=num_hashes,
        bands=bands,
        sig=sig,
        max_bucket_size=max_bucket_size,
    )
    sig_a = sig.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    with_sigs = cands.join(sig_a, "a").join(sig_b, "b")
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est_floor = max(0.0, threshold - 0.25)  # ~2σ margin at 32 hashes
    cands = with_sigs.filter(matches / num_hashes >= est_floor).select("a", "b")
    # exact-verify on the RAW TEXT joined to the candidate pairs, with
    # the shingle arrays computed AFTER the join (r13): the former shape
    # pre-shingled every corpus document on both join sides, so the
    # tokenizer ran 2n times however few candidates survived the
    # prefilter, and the shingle ARRAYS (larger than their source text)
    # crossed the join exchanges.  Post-join, shingling is
    # 2·|candidates| (the prefilter's whole point is candidates ≪ n)
    # and only the text crosses — same expression on the same strings,
    # so jaccard is bit-identical.
    txt = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    joined = (
        cands.join(txt.withColumnRenamed("id", "a").withColumnRenamed("t", "ta"), "a")
        .join(txt.withColumnRenamed("id", "b").withColumnRenamed("t", "tb"), "b")
    )
    sh_a = word_shingles("ta", shingle_n)
    sh_b = word_shingles("tb", shingle_n)
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(F.array_union(sh_a, sh_b)).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text_col: Column | str, bits: int = 64, shingle_n: int = 1) -> Column:
    """64-bit SimHash over token hashes: for each bit, sum(+1/-1) over
    tokens' bit values; sign → bit. Pure column expressions: per-bit
    popcount via shiftright/bitwise-and aggregated with F.aggregate.

    NOTE: this per-row expression form re-tokenizes the text inside
    each of the 64 bit votes — fine for a handful of rows, wrong for a
    table scan. Use ``simhash_df`` (explode + groupBy votes) for any
    at-scale path; ``simhash_near_dupes`` already does."""
    sh = word_shingles(text_col, shingle_n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s, F.lit(1234567)))

    def votes_for_bit(b: int) -> Column:
        # closure factory (not a default-arg lambda — see minhash note)
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )

    def bit_value(b: int) -> Column:
        # 1<<63 overflows signed long; the sign bit needs the negative literal
        mask = (1 << b) if b < 63 else -(1 << 63)
        return F.when(votes_for_bit(b) > 0, F.lit(mask).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    out = bit_value(0)
    for b in range(1, bits):
        out = out.bitwiseOR(bit_value(b))
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    shingle_n: int = 1,
    portable: bool = False,
) -> DataFrame:
    """SimHash as a DataFrame (id, h) via explode + groupBy bit votes —
    the scalable form (the pure-expression ``simhash`` inlines the
    tokenizer into each of the 64 bit votes; see minhash_signatures_df).

    ``portable=True``: 32-bit md5-derived gram hash (requires
    bits <= 32) so any SQL engine reproduces the fingerprints exactly —
    the differential-oracle path; the engine default stays xxhash64/64.
    """
    if portable:
        if bits > 32:
            raise ValueError("portable simhash is 32-bit: pass bits<=32")
        gh = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
    else:
        gh = F.xxhash64(F.col("g"), F.lit(1234567))
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    ).select("id", gh.alias("gh"))
    # ONE parsed SQL expression for the whole vote→bit→pack tree (r13):
    # the former shape built `bits` aggregate Columns plus a `bits`-term
    # bitwiseOR chain through individual py4j calls — several hundred
    # driver round-trips per plan build, the dominant cost of
    # constructing this query.  The SQL string parses in a single call
    # to the same operators (sum over the ±1 case vote, case-on-sign
    # mask, bitwise or), so `h` is bit-identical.
    def bit_term(b: int) -> str:
        mask = (
            f"{1 << b}L" if b < 63 else "(-9223372036854775807L - 1L)"
        )
        vote = (
            f"sum(case when (shiftright(gh, {b}) & 1) = 1 "
            "then 1 else -1 end)"
        )
        return f"(case when {vote} > 0 then {mask} else 0L end)"

    h = " | ".join(bit_term(b) for b in range(bits))
    return grams.groupBy("id").agg(F.expr(h).alias("h"))


def simhash_near_dupes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming distance <= k. Bucketing: split the
    64-bit hash into k+1 chunks — any pair within distance k agrees on
    at least one chunk (pigeonhole), so candidates form via equi-join on
    (chunk_idx, chunk_value). Output (a, b, hamming)."""
    from pyspark import StorageLevel

    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    # the signature is consumed twice (both sides of the bucket
    # self-join): persist the tiny (id, h) table rather than paying the
    # 64-vote aggregation twice.
    sh = simhash_df(df, id_col, text_col, bits, portable=portable).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    mask = (1 << chunk_bits) - 1
    exploded = sh.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("h"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "h", "c.ci", "c.cv")
    l, r = exploded.alias("l"), exploded.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.ci") == F.col("r.ci"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            hamming64(F.col("l.h"), F.col("r.h")).alias("hamming"),
        )
        # filter BEFORE distinct: a pair matching in m chunks appears m
        # times, but only survivors should pay the dedup shuffle.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, token-join formulation — no arrays shipped in join)
# ---------------------------------------------------------------------------


def ngram_jaccard_vs_query(
    df: DataFrame,
    query_doc: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
) -> DataFrame:
    """Jaccard(doc, query) for every doc: explode distinct n-grams,
    equi-join on the gram, count intersections, derive union from set
    sizes: |A∪B| = |A|+|B|-|A∩B|. Output (doc_id, jaccard)."""
    grams = lambda d: d.select(  # noqa: E731
        F.col(id_col).alias("id"), F.explode(word_shingles(text_col, n)).alias("g")
    )
    d_grams = grams(df)
    q_grams = grams(query_doc).select("g").distinct()
    # query size as a broadcast scalar subquery — no driver-side action;
    # the whole operator stays one lazy plan.
    q_size = q_grams.agg(F.count(F.lit(1)).alias("qn"))
    sizes = d_grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        d_grams.join(F.broadcast(q_grams), "g")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        sizes.join(inter, "id", "left")
        .crossJoin(F.broadcast(q_size))
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz") + F.col("qn") - F.col("inter")), 6
            ),
        )
    )
    return out.select(F.col("id").alias(id_col), "jaccard")


# ---------------------------------------------------------------------------
# Near-dup clustering → deduplicated corpus
# ---------------------------------------------------------------------------


def _dense_jaccard_pairs(
    grams: DataFrame,
    vocab: DataFrame,
    threshold: float,
) -> DataFrame | None:
    """Small-vocabulary (≤64 grams) exact-Jaccard all-pairs via long
    bitmasks — see exact_jaccard_pairs.  Returns None when the
    distinct-mask count is too large for the m² mask join (the caller
    falls back to the token join).

    Shape: one broadcast of the ≤64-row vocab, one groupBy building a
    mask per doc, the m×m popcount screen over DISTINCT masks (m ≤
    2^vocab, capped), and a broadcast expansion back to doc pairs — the
    only data-sized exchanges are the mask groupBy and the final
    expansion, both linear."""
    w = Window.orderBy("g")
    idx = vocab.select("g", (F.row_number().over(w) - 1).alias("idx"))
    dm = (
        grams.join(F.broadcast(idx), "g")
        .groupBy("id")
        .agg(F.expr("bit_or(shiftleft(1L, idx))").alias("mask"))
    )
    masks = dm.select("mask").distinct()
    # m² popcount screen at ~2 ns/op: 65536² ≈ 4.3e9 streamed ops is
    # seconds across a fleet, while the token-join fallback on a
    # small-vocabulary corpus is strictly worse (every gram hot, Σ df²
    # ≈ n²·vocab) — so the cap errs high before giving up
    if masks.count() > 65536:
        return None
    x, y = masks.alias("x"), masks.alias("y")
    inter = F.bit_count(F.col("x.mask").bitwiseAND(F.col("y.mask")))
    union = F.bit_count(F.col("x.mask").bitwiseOR(F.col("y.mask")))
    mp = (
        x.crossJoin(F.broadcast(y))
        .select(
            F.col("x.mask").alias("ma"),
            F.col("y.mask").alias("mb"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    a = dm.select(F.col("id").alias("a"), F.col("mask").alias("ma"))
    b = dm.select(F.col("id").alias("b"), F.col("mask").alias("mb"))
    # every ordered (ma, mb) mask pair appears exactly once in mp, so
    # each qualifying doc pair surfaces exactly once under a < b
    return (
        a.join(F.broadcast(mp), "ma")
        .join(b, "mb")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "jaccard")
    )


def jaccard_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 1,
    max_gram_df: int | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """(id, cluster) — connected components of the exact-Jaccard ≥
    threshold graph, for every doc with at least one partner; cluster =
    min member id.  Equals ``duplicate_clusters(exact_jaccard_pairs)``
    but on the dense small-vocabulary path the components are computed
    on the DISTINCT-BITMASK graph (≤ distinct shingle-sets nodes) and
    docs join in once at the end — the doc-level pair set, which is
    Ω(n²) rows on a dup-heavy corpus regardless of how cheaply each
    pair is screened, is never materialized.  (Measured: 14 s → ~4 s at
    sf0.1 where the doc graph has 8.9 M edges but only 3 935 masks;
    the r6 driver-numpy CC lane for ≤ _DENSE_CC_DRIVER_CAP masks took
    it to ~1.8 s by replacing the 9.7 M-edge distributed mask-pair CC
    with one exact in-memory label propagation.)"""
    if max_gram_df is None:
        # Dense-gate probe: ONE pass over the text (word_shingles is
        # already per-doc-distinct), collecting at most 65 gram strings
        # — the same scan a count() would pay, but the values come back
        # with the gate, so the mask build below needs no row_number
        # window, no broadcast idx join and no explode+groupBy shuffle
        # (r13: the join+shuffle form measured 1.35–1.49 s steady at
        # sf0.1 vs 0.86–1.24 s for the per-row expression form).
        sets = df.select(
            F.col(id_col).alias("id"),
            word_shingles(text_col, shingle_n).alias("gs"),
        )
        vocab_rows = (
            sets.select(F.explode("gs").alias("g")).distinct().limit(65).collect()
        )
        if len(vocab_rows) <= 64:
            out = _dense_mask_clusters(
                sets, sorted(r["g"] for r in vocab_rows), threshold, max_iterations
            )
            if out is not None:
                return out
    pairs = exact_jaccard_pairs(
        df, id_col, text_col, threshold, shingle_n, max_gram_df
    )
    return duplicate_clusters(pairs.select("a", "b"), max_iterations)


# driver-lane cap for the dense-mask CC: 8192 masks = 64 KB collect +
# 64 MB boolean adjacency + 64 MiB strip-matmul temporaries (the
# adjacency is built in 1024-row strips — never a full n² float64
# matrix); above it the distributed crossJoin lane runs
_DENSE_CC_DRIVER_CAP = 8192


# single-slot buffer pool for _mask_components_numpy: first-touch page
# faults on fresh large mmaps are the dominant cost of the dense CC on
# a memory-pressured host (see the measurement note in the function),
# so the strip/adjacency buffers are reused across calls.  Bounded by
# construction: one slot, sized by the ≤8192-mask cap that gates the
# driver lane (≤64 MB adjacency + ≤28 MB strips).  Holds no input-
# derived data — every cell is overwritten before it is read.
_DENSE_CC_POOL: dict = {}


def _dense_cc_buffers(np, n: int, w: int):
    key = (n, w)
    if _DENSE_CC_POOL.get("key") != key:
        _DENSE_CC_POOL.clear()
        _DENSE_CC_POOL["key"] = key
        _DENSE_CC_POOL["bufs"] = (
            np.empty((w, n), dtype=np.float32),   # matmul out (counts)
            np.empty((w, n), dtype=np.float64),   # inter, as double
            np.empty((w, n), dtype=np.float64),   # union, then quotient
            np.empty((w, n), dtype=np.int32),     # masked-label strip (ranks)
            np.empty((n, n), dtype=bool),         # adjacency
        )
    return _DENSE_CC_POOL["bufs"]


def _mask_components_numpy(
    mask_vals: list[int], threshold: float
) -> list[tuple[int, int]]:
    """(mask, component-min-mask) for every mask with at least one
    cross-mask Jaccard ≥ threshold neighbor — the driver-side twin of
    ``duplicate_clusters`` over the mask-pair graph.  Intersection /
    union counts come from an exact float64 bit-matrix matmul (integer
    values ≤ 64, exactly representable), so the threshold division is
    the same IEEE double the JVM expression computes; min-label
    propagation over the boolean adjacency converges to each
    component's minimum mask value, matching the distributed lane's
    cluster ids exactly."""
    import numpy as np

    m0 = np.asarray(mask_vals, dtype=np.int64)
    n = len(m0)
    if n == 0:
        return []
    # r14: work in mask-ascending order so labels are RANKS (int32):
    # min-rank IS min-mask (masks are distinct), which halves the
    # label-propagation bytes vs int64 mask labels.  Adjacency entries
    # are a pure permutation of the r13 form (intersection counts are
    # integers ≤ 64, exact in f32 in any accumulation order), so
    # component membership — and therefore every returned (mask,
    # min-mask) pair — is identical.
    m = m0[np.argsort(m0, kind="stable")]
    # (n, 64) bit expansion; arithmetic >> keeps the sign bit correct
    bits = ((m[:, None] >> np.arange(64, dtype=np.int64)[None, :]) & 1)
    # float32 GEMM over only the OCCUPIED bit columns (r13): the
    # intersection counts are integers ≤ 64, exactly representable in
    # float32 whatever the accumulation order, so the adjacency is
    # bit-identical to the float64 form.  pc / union / divide stay
    # float64 — the Jaccard division is the same IEEE double the JVM
    # expression computes.
    B = np.ascontiguousarray(bits[:, bits.any(axis=0)], dtype=np.float32)
    pc = bits.sum(axis=1).astype(np.float64)
    # Blockwise adjacency in POOLED strip buffers (r13 follow-up): the
    # per-strip `(B[s:e] @ B.T).astype(f64)` + union + divide chain
    # allocated ~100 MB of FRESH mmaps per strip and per label-prop
    # iteration (numpy frees >128 KB arrays straight back to the OS, so
    # every temporary re-faulted its pages), and on this hypervisor
    # first-touch faults stall under co-tenant memory pressure —
    # measured: touching 110 MB of fresh mmaps beside the resident JVM
    # took 5.9 s (≈19 MB/s) while the SAME GEMM into warm pages ran
    # 0.014 s, so the whole 9–25 s in-session cost of this function was
    # page faults, not arithmetic (BLAS acquitted by calibration).
    # The pool (one slot, keyed by n, ≤64 MB adj + ≤28 MB strips at the
    # 8192-mask cap) makes steady-state calls allocation-free; the
    # arithmetic and its IEEE order are unchanged.
    strip = 256
    w = min(strip, n)
    c32, i64, u64, lb, adj = _dense_cc_buffers(np, n, w)
    Bt = B.T
    with np.errstate(divide="ignore", invalid="ignore"):
        for s in range(0, n, strip):
            e = min(s + strip, n)
            r = e - s
            np.matmul(B[s:e], Bt, out=c32[:r])
            np.copyto(i64[:r], c32[:r])              # exact f32→f64
            np.add(pc[s:e, None], pc[None, :], out=u64[:r])
            np.subtract(u64[:r], i64[:r], out=u64[:r])
            np.divide(i64[:r], u64[:r], out=u64[:r])
            np.greater_equal(u64[:r], threshold, out=adj[s:e])
    np.fill_diagonal(adj, False)
    has_nbr = adj.any(axis=1)
    labels = np.arange(n, dtype=np.int32)      # rank labels (sorted masks)
    big = np.iinfo(np.int32).max
    for _ in range(n):                    # converges in O(diameter)
        changed = False
        # blocked masked-min keeps peak memory at block × n int32
        for s in range(0, n, strip):
            e = min(s + strip, n)
            r = e - s
            lb[:r].fill(big)
            np.copyto(
                lb[:r],
                np.broadcast_to(labels[None, :], (r, n)),
                where=adj[s:e],
            )
            nbr = lb[:r].min(axis=1)
            new = np.minimum(labels[s:e], nbr)
            if not np.array_equal(new, labels[s:e]):
                labels[s:e] = new
                changed = True
        if not changed:
            break
    return [
        (int(m[i]), int(m[labels[i]])) for i in range(n) if has_nbr[i]
    ]


def _dense_mask_clusters(
    sets: DataFrame,
    vocab: list[str],
    threshold: float,
    max_iterations: int,
) -> DataFrame | None:
    """Dense-path component labels: CC over the mask-pair graph (tiny),
    then one join assigning each doc its component's min doc id.  A doc
    participates iff its mask has a cross-mask neighbor OR at least two
    docs share the mask (identical sets ⇒ Jaccard 1 ⇒ always paired).

    ``sets`` is (id, gs: array<string>) with per-doc-distinct grams;
    ``vocab`` the ≤ 64 sorted distinct grams.  Each doc's mask is ONE
    per-row expression over the literal vocab — no shuffle, no idx
    join; docs with empty gram sets are dropped exactly as the explode
    form dropped them.  Cluster ids are invariant to the bit order
    (cluster = min member doc id), but the sorted vocab keeps masks
    deterministic run-to-run."""
    vsql = "array(" + ",".join("'" + g.replace("'", "''") + "'" for g in vocab) + ")"
    dm = (
        sets.filter(F.size("gs") > 0)
        .select(
            "id",
            F.expr(
                "aggregate(gs, 0L, (acc, g) -> acc | "
                f"shiftleft(1L, int(array_position({vsql}, g) - 1)))"
            ).alias("mask"),
        )
        # feeds the mask census, the doc census, and the final label
        # join — materialize once, cut lineage (GC-cleaned blocks)
        .localCheckpoint(eager=True)
    )
    # r14: ONE aggregate job returns the distinct masks AND their doc
    # counts (the r13 shape paid a count() census, then a collect, then
    # an in-plan per-mask count aggregate + second broadcast join).
    # limit(cap+1) keeps the collect bounded by the same cap that gates
    # the driver lane.
    cap = _DENSE_CC_DRIVER_CAP
    cnt_rows = (
        dm.groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .limit(cap + 1)
        .collect()
    )
    if len(cnt_rows) <= cap:
        # driver lane: ≤8192 distinct masks is ≤64 KB of longs to
        # collect and a ≤64 MB boolean adjacency — bounded BY THE SAME
        # CAP that gates this path, so the collect is safe by
        # construction.  The mask-pair graph here is edge-DENSE (sf0.1:
        # 3 935 masks but 9.7 M matching pairs), so the distributed
        # crossJoin + iterative min-label CC paid ~8 s of shuffle-job
        # latency for a graph whose adjacency fits in one numpy array;
        # exact float64 intersection counts (integers ≤64) keep the
        # Jaccard division bit-identical to the JVM expression.
        n_docs = {r["mask"]: r["n_docs"] for r in cnt_rows}
        comp = dict(_mask_components_numpy(list(n_docs), threshold))
        # keep a doc iff its mask has a cross-mask neighbor OR ≥2 docs
        # share the mask; its component label is the neighbor
        # component's min mask, else its own mask — the exact filter +
        # coalesce the r13 plan ran as two broadcast joins.
        lab_rows = [
            (mk, comp.get(mk, mk))
            for mk, nd in n_docs.items()
            if mk in comp or nd >= 2
        ]
        mlab = dm.sparkSession.createDataFrame(
            lab_rows, "mask long, comp long"
        )
        labeled = dm.join(F.broadcast(mlab), "mask").select("id", "comp")
    else:
        masks = dm.select("mask").distinct()
        if masks.count() > 65536:  # see _dense_jaccard_pairs on the cap
            return None
        x, y = masks.alias("x"), masks.alias("y")
        inter = F.bit_count(F.col("x.mask").bitwiseAND(F.col("y.mask")))
        union = F.bit_count(F.col("x.mask").bitwiseOR(F.col("y.mask")))
        cross = (
            x.crossJoin(F.broadcast(y))
            .filter(F.col("x.mask") != F.col("y.mask"))
            .filter((inter.cast("double") / union) >= F.lit(threshold))
            .select(F.col("x.mask").alias("a"), F.col("y.mask").alias("b"))
        )
        mlab = duplicate_clusters(cross, max_iterations).select(
            F.col("id").alias("mask"), F.col("cluster").alias("mcomp")
        )
        cnt = dm.groupBy("mask").agg(F.count(F.lit(1)).alias("n_docs"))
        labeled = (
            dm.join(F.broadcast(mlab), "mask", "left")
            .join(F.broadcast(cnt), "mask")
            .filter(F.col("mcomp").isNotNull() | (F.col("n_docs") >= 2))
            .select(
                "id", F.coalesce(F.col("mcomp"), F.col("mask")).alias("comp")
            )
        )
    rep = labeled.groupBy("comp").agg(F.min("id").alias("cluster"))
    return labeled.join(F.broadcast(rep), "comp").select("id", "cluster")


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_n: int = 1,
    max_gram_df: int | None = None,
) -> DataFrame:
    """ALL-pairs exact shingle-set Jaccard >= threshold, token-join
    formulation: explode (id, gram) → self equi-join on the gram →
    count matches per (a, b) → |A∩B|; set sizes from per-doc counts.
    No arrays cross the shuffle and there is no cross product — work is
    Σ_g df(g)², i.e. driven by hot grams, not by n².

    ``max_gram_df``: at scale, drop grams appearing in more than this
    many documents before the self-join (stop-shingles contribute
    df(g)² join work and almost no Jaccard discrimination). None keeps
    everything — required when differential-testing against an exact
    oracle. Returns (a, b, jaccard).

    Dense small-vocabulary path: when the corpus' distinct-gram count
    fits one machine word (≤ 64) and the distinct shingle-SET count is
    modest, every Σ_g df(g)² estimate explodes (every gram is hot) while
    the whole problem collapses to popcount arithmetic — each doc's set
    becomes a single long bitmask, Jaccard(a,b) =
    bit_count(a&b)/bit_count(a|b), and the all-pairs join runs over
    DISTINCT masks only, broadcast, in whole-stage codegen.  Same
    integers, same doubles, hash-identical output — measured 227 s →
    ~2 s on a 5 000-doc corpus with a 31-token vocabulary.
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if max_gram_df is not None:
        rare = (
            grams.groupBy("g")
            .agg(F.count_distinct("id").alias("df"))
            .filter(F.col("df") <= max_gram_df)
            .select("g")
        )
        grams = grams.join(rare, "g")
    vocab = grams.select("g").distinct()
    if vocab.count() <= 64:
        out = _dense_jaccard_pairs(grams, vocab, threshold)
        if out is not None:
            return out
    l, r = grams.alias("l"), grams.alias("r")
    inter = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.id") < F.col("r.id")))
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("a", "b", "jaccard")
    )


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs (a, b) via iterative
    min-label propagation — no graph library: each node starts with
    label=itself; every round each node takes the min label in its
    neighborhood; stop at fixpoint (checked per round) or the iteration
    cap. Rounds needed ≈ graph diameter; near-dup clusters are dense,
    so a handful suffices. Returns (id, cluster) with cluster = min
    member id.

    Each level is one neighbor-min round followed by EDGE CONTRACTION:
    edges are rewritten through the updated labels and deduplicated, so
    only edges that still cross label boundaries survive into the next
    level.  On the dense graphs near-dup detection produces (every
    member of a dup neighborhood pairs with most others — measured
    8.9 M pairs over 5 000 docs) one round labels almost every
    component uniformly and the contracted graph collapses to ~nothing:
    the full-size edge set is scanned twice (min + contraction) instead
    of once per round (was 211 s at 20-round propagation, now ~10 s).
    Termination: a label is a monotone non-increasing function ≥ the
    component min, and the min member keeps its own id, so an empty
    contracted graph ⇔ every component uniformly labeled with its min;
    levels needed ≈ log(diameter)."""
    def solve(edges: DataFrame, depth: int) -> DataFrame:
        """(id, cluster) for every node of ``edges``; cluster = min id
        of the node's component (exact once depth suffices).  Every
        level is cut with an EAGER localCheckpoint, not persist():
        persist caches data but keeps the full logical plan, and a
        recursive structure nests that plan once per level — analysis
        cost grows exponentially and a 9-row level was measured
        spending minutes in the optimizer.  The checkpoint truncates
        lineage to an RDD scan (blocks are freed by the ContextCleaner
        on GC; on a multi-node cluster prefer reliable checkpointing or
        an intermediate table for fault tolerance)."""
        labels = (
            edges.groupBy(F.col("x").alias("id"))
            .agg(F.min("y").alias("nmin"))
            .select("id", F.least("id", "nmin").alias("cluster"))
            .localCheckpoint(eager=True)
        )
        lx = labels.select(F.col("id").alias("x"), F.col("cluster").alias("cx"))
        ly = labels.select(F.col("id").alias("y"), F.col("cluster").alias("cy"))
        contracted = (
            edges.join(lx, "x")
            .join(ly, "y")
            .filter(F.col("cx") != F.col("cy"))
            .select(F.col("cx").alias("x"), F.col("cy").alias("y"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if depth <= 1 or contracted.count() == 0:
            return labels
        sub = solve(contracted, depth - 1)  # label-graph components
        return (
            labels.alias("l")
            .join(sub.alias("s"), F.col("l.cluster") == F.col("s.id"), "left")
            .select(
                F.col("l.id").alias("id"),
                F.coalesce(F.col("s.cluster"), F.col("l.cluster")).alias("cluster"),
            )
            .localCheckpoint(eager=True)
        )

    # materialize the (possibly expensive) pair pipeline ONCE before the
    # symmetrizing union — a lazy union would run it per branch
    p = pairs.select("a", "b").localCheckpoint(eager=True)
    edges = p.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        p.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    return solve(edges, max_iterations)


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-dup deduplication: MinHash-LSH pairs →
    connected components → keep the minimum-id representative of every
    cluster (plus all unpaired docs). Returns the deduplicated corpus
    with the original schema."""
    pairs = minhash_near_dupes(
        df, id_col=id_col, text_col=text_col, threshold=threshold, **minhash_kwargs
    )
    clusters = duplicate_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# benchmark decontamination & blocked fuzzy matching
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares at least one word ``shingle_n``-gram with the evaluation
    set (the standard n-gram-overlap rule used to keep test benchmarks
    out of web-scale training corpora).

    Scale shape: the eval side is tiny relative to training data, so
    its distinct gram set is BROADCAST — the exploded training grams
    are probed map-side and never shuffled for the join. Contaminated
    ids then collapse via one groupBy shuffle and are removed with a
    left-anti join. At 100 TB of training text the only wide exchange
    is the distinct over contaminated ids (bounded by corpus
    cardinality, not gram cardinality)."""
    eval_grams = (
        eval_set.select(F.explode(word_shingles(text_col, shingle_n)).alias("g"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col).alias("__id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    )
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "g")
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, on=id_col, how="left_anti")


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Entity-resolution candidate pairs: rows agreeing on every
    blocking column whose ``text_col`` values are within Levenshtein
    ``max_distance``. Output (a, b, distance) with a < b.

    Blocking is what makes this scale: the self-join is an equi-join
    on the block key, so the quadratic edit-distance work is confined
    to each block instead of the full corpus (classic blocking from
    the record-linkage literature). ``max_block_size`` drops degenerate
    hot blocks (e.g. a null-heavy blocking column) before the self-join
    — same policy and same tiny-aggregate-semi-join mechanics as
    ``lsh_candidate_pairs``'s max_bucket_size — so one giant block can
    never re-create the quadratic blow-up blocking exists to avoid; the
    JVM-side ``levenshtein`` expression keeps the verify step in
    codegen."""
    sel = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t"), *block_cols
    )
    if max_block_size is not None:
        ok = (
            sel.groupBy(*block_cols)
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_block_size)
            .select(*block_cols)
        )
        sel = sel.join(ok, block_cols)
    # pin the probe side's partition count EXPLICITLY: the verify stage
    # does O(block²) edit-distance work per row of input, so its
    # parallelism must follow the pair count, not the input byte size —
    # AQE would coalesce a small-byte input to one partition and
    # serialize the whole DP workload (measured 5× on the bench).
    # Explicit N on the same keys still satisfies the join's
    # distribution, so no extra exchange appears at SMJ scale.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    probe = sel.repartition(n_part, *block_cols)
    l, r = probe.alias("l"), sel.alias("r")
    block_cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
    cond = block_cond[0]
    for c in block_cond[1:]:
        cond = cond & c
    # two verify-cost cuts, both exact: a length-difference residual
    # (|len a − len b| > d implies distance > d) evaluated before any
    # DP, and the THRESHOLDED levenshtein — banded O(d·n) DP instead of
    # the full O(n²) table, returning -1 when the bound is exceeded
    len_ok = (
        F.abs(F.length(F.col("l.t")) - F.length(F.col("r.t"))) <= max_distance
    )
    dist = F.levenshtein(F.col("l.t"), F.col("r.t"), max_distance)
    return (
        l.join(r, cond & (F.col("l.id") < F.col("r.id")) & len_ok)
        .select(
            F.col("l.id").alias("a"),
            F.col("r.id").alias("b"),
            dist.alias("distance"),
        )
        .filter(F.col("distance") >= 0)
    )


# ---------------------------------------------------------------------------
# passage-level corpus dedup (C4/CCNet line-dedup analog)
# ---------------------------------------------------------------------------


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    passage_tokens: int = 3,
) -> DataFrame:
    """Sub-document exact dedup: split every document into
    non-overlapping passages of ``passage_tokens`` tokens, keep only
    the globally FIRST occurrence of each distinct passage (ordered by
    (doc_id, passage index) — the deterministic analog of C4's
    line-level and CCNet's paragraph-level dedup), and reassemble each
    document from its surviving passages.

    Scale shape: two shuffles, both on bounded keys — a ranking window
    partitioned by the passage text (first-occurrence selection; hot
    passages are exactly the ones being deduped away, and AQE splits
    any skewed rank partition), then a groupBy(doc_id) reassembly whose
    per-group state is the document itself. No self-joins, no
    quadratic stage; at 100 TB swap the raw passage string for its
    xxhash64 in the window key to shrink the exchange.

    Output: (doc_id, n_passages, n_kept, text_dedup).
    """
    toks = F.split(F.col(text_col), " ")
    n_pass = F.ceil(F.size(toks) / F.lit(passage_tokens)).cast("int")
    passages = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.posexplode(F.sequence(F.lit(0), n_pass - 1)).alias("idx", "__k"),
    ).select(
        "doc_id",
        "idx",
        F.array_join(
            F.slice("__toks", F.col("__k") * passage_tokens + 1, passage_tokens),
            " ",
        ).alias("passage"),
    )
    first_w = Window.partitionBy("passage").orderBy("doc_id", "idx")
    ranked = passages.withColumn("__rn", F.row_number().over(first_w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_passages"),
            F.count(F.when(F.col("__rn") == 1, 1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct("idx", "passage"),
                            )
                        )
                    ),
                    lambda s: s.getField("passage"),
                ),
                " ",
            ).alias("text_dedup"),
        )
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Exact substring-span dedup — the fixed-length form of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", ExactSubstr): every rolling ``span_tokens``-gram that
    already occurred earlier in the corpus (global first occurrence
    ordered by (doc_id, position) wins) marks its token span as
    duplicated, overlapping spans merge, and covered tokens are
    removed from the document.

    The interval union needs NO self-join: because all spans share one
    length L, token i is covered iff the latest duplicate-span start
    s ≤ i satisfies s + L > i — a running max over a union-merge of
    token events and span-start events per document (the same ordered-
    union trick as operators/joins.asof_join), one window pass.

    Scale shape: three linear shuffles — the gram first-occurrence
    ranking window (partitioned by the gram; swap the gram string for
    xxhash64(gram) at 100 TB to shrink the exchange, as with
    passage_dedup), the per-document coverage window (bounded by doc
    length), and the groupBy(doc) reassembly. Duplicate-start events
    are a tiny fraction of the token stream, so the union adds ~0 to
    the coverage shuffle. No quadratic stage anywhere.

    Output: (doc_id, n_tokens, n_removed, text_dedup).
    """
    L = span_tokens
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    tok = base.select("doc_id", F.posexplode("__toks").alias("pos", "tok"))

    n_grams = F.size("__toks") - F.lit(L) + 1
    grams = base.filter(F.size("__toks") >= L).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_grams - 1)).alias("p"),
        "__toks",
    ).select(
        "doc_id",
        "p",
        F.array_join(F.slice("__toks", F.col("p") + 1, L), " ").alias("gram"),
    )
    first_w = Window.partitionBy("gram").orderBy("doc_id", "p")
    dup = (
        grams.withColumn("__rn", F.row_number().over(first_w))
        .filter(F.col("__rn") > 1)
        .select("doc_id", "p")
    )

    ev = tok.select(
        "doc_id", "pos", F.lit(1).alias("is_tok"), "tok"
    ).unionByName(
        dup.select(
            "doc_id",
            F.col("p").alias("pos"),
            F.lit(0).alias("is_tok"),
            F.lit(None).cast("string").alias("tok"),
        )
    )
    # span-start events sort BEFORE the token at the same position
    # (is_tok 0 < 1): a duplicate span starting at i covers token i
    cover_w = (
        Window.partitionBy("doc_id")
        .orderBy("pos", "is_tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    smax = F.max(F.when(F.col("is_tok") == 0, F.col("pos"))).over(cover_w)
    kept = (
        ev.withColumn("__smax", smax)
        .filter(F.col("is_tok") == 1)
        .withColumn(
            "keep",
            F.col("__smax").isNull() | (F.col("__smax") + L <= F.col("pos")),
        )
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("pos", "tok"))
                    )
                ),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefilter decontamination (extension: the broadcast-sketch scale
# path for n-gram decontamination — same pattern as Spark's own runtime
# row-level filtering, whose bloom_filter_agg/might_contain expressions
# are not exposed in this build)
# ---------------------------------------------------------------------------


def _bloom_might_contain(
    spark: SparkSession,
    build_keys: DataFrame,
    key_col: str,
    probe_key: Column,
    n_items: int,
    n_bits: int,
) -> Column:
    """Spark's own runtime-filter expression pair, constructed directly:
    a ``bloom_filter_agg(key)`` over ``build_keys[key_col]`` wrapped as
    a scalar subquery, probed by ``might_contain(<subquery>,
    probe_key)``.  Both expressions are public Apache Spark catalyst
    classes (SPARK-32268) that the optimizer itself injects for runtime
    join filters; PySpark just has no DataFrame-API surface for them,
    so the Column is assembled through the classic ExpressionUtils
    bridge.  The build aggregates distributedly (partial/final
    ObjectHashAggregate) and the probe runs in whole-stage codegen — no
    Python boundary anywhere."""
    from pyspark.sql.classic.column import _to_java_column

    jvm = spark.sparkContext._jvm
    eu = jvm.org.apache.spark.sql.classic.ExpressionUtils

    def jexpr(col: Column):
        return eu.expression(_to_java_column(col))

    agg = jvm.org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        jexpr(F.col(key_col)),
        jexpr(F.lit(int(n_items)).cast("long")),
        jexpr(F.lit(int(n_bits)).cast("long")),
    )
    bf = build_keys.agg(
        Column(eu.column(agg.toAggregateExpression())).alias("__bf")
    )
    mc = jvm.org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        jexpr(bf.scalar()), jexpr(probe_key)
    )
    return Column(eu.column(mc))


def decontaminate_bloom(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    bits_per_gram: int = 16,
    n_hashes: int = 4,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom-filter prefilter — EXACTLY the
    same result (Bloom filters have no false negatives and every
    candidate is re-confirmed against the real gram set), but the
    membership test that every training n-gram pays is a few bitwise
    probes into a Bloom bit array instead of a probe into a broadcast
    hash table of gram STRINGS.

    Why it matters at 100 TB: a benchmark suite's distinct gram set is
    ~10⁷ strings (hundreds of MB broadcast, or a full shuffle join if
    it outgrows the broadcast threshold), while the Bloom array at 16
    bits/gram is ~20 MB regardless of string length.  The exact
    confirm join then sees only true hits + a sub-percent false-
    positive residue, so the expensive join moves ~10³× fewer rows.
    This is the runtime-filter design Spark applies to join probes
    internally (SPARK-32268).

    Mechanics (r14): the filter IS Spark's own runtime-filter
    expression pair — a ``bloom_filter_agg(xxhash64(g))`` scalar
    subquery over the raw eval gram stream (distributed partial/final
    build, no ``.distinct()`` — Bloom insert is idempotent) probed by
    ``might_contain`` on the train side.  Both run entirely in the JVM
    with whole-stage codegen; the r13 shape hand-built the same bit
    array through a chunk exchange + Arrow ``mapInPandas`` pack and
    probed it in a pandas UDF, shipping k int64 position columns per
    train gram across the Python boundary (guide §4: the boundary was
    the probe's dominant cost).  PySpark does not expose the pair, so
    the expressions are constructed directly from the catalyst classes
    (see :func:`_bloom_might_contain`).  ``n_hashes`` is kept for API
    compatibility; the JVM filter derives its hash count from m/n.
    Sizing still comes from the cheap ``sum(length/4)`` upper bound
    (r13): m only tunes the FPR — the exact confirm join makes the
    RESULT invariant to it."""
    eval_grams = (
        eval_set.select(F.explode(word_shingles(text_col, shingle_n)).alias("g"))
        .distinct()
    )
    n_grams = (
        eval_set.agg(
            F.sum(
                F.greatest(
                    (F.length(F.col(text_col)) / 4).cast("long"), F.lit(1)
                )
            )
        ).first()[0]
        or 1
    )
    m_bits = 1 << max(10, (bits_per_gram * max(n_grams, 1) - 1).bit_length())

    spark = train.sparkSession
    # the engine caps bloom_filter_agg sizing; clamp to the session's
    # limits (an undersized filter only raises the FPR — the confirm
    # join keeps the result exact)
    items_cap = int(
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems")
    )
    bits_cap = int(
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    )
    build_keys = eval_set.select(
        F.explode(word_shingles(text_col, shingle_n)).alias("g")
    ).select(F.xxhash64(F.col("g")).alias("__k"))
    train_grams = train.select(
        F.col(id_col).alias("__id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("g"),
    )
    candidates = train_grams.filter(
        _bloom_might_contain(
            spark,
            build_keys,
            "__k",
            F.xxhash64(F.col("g")),
            min(max(n_grams, 1), items_cap),
            min(m_bits, bits_cap),
        )
    )
    # exact confirm: false positives die here; no broadcast hint — at
    # bench scale AQE broadcasts the eval grams, at web scale this is
    # a shuffle join over the ~0.2 % surviving candidate rows only
    contaminated = (
        candidates.join(eval_grams, "g")
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, on=id_col, how="left_anti")


def split_leakage_report(
    df: DataFrame,
    split_col: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    **minhash_kwargs,
) -> DataFrame:
    """Cross-split contamination audit: duplicate (rule='exact', md5
    content fingerprint) and near-duplicate (rule='near', MinHash-LSH +
    exact-Jaccard verify at ``threshold``) pairs whose two documents
    sit in DIFFERENT splits — the leak that silently inflates eval
    numbers when a train/val/test partition is cut AFTER imperfect
    dedup.  One row per (rule, split_a, split_b) with the pair count
    and a deterministic example pair (the id-min pair).

    Within-split duplicates are NOT reported (they are a dedup-quality
    matter, not leakage).  An empty result is the pass condition; by
    construction, a corpus deduplicated by ``dedup_corpus`` at
    threshold t and split afterwards reports zero rows at the same t
    (the law pinned by the pipeline test).

    Scale shape: the exact lane self-joins on the fingerprint (groups
    are duplicate-cluster-sized); the near lane reuses the bucketed
    LSH machinery (band-keyed, never all-pairs); split labels join
    back on the id; the report aggregate is group-count-sized."""
    from market_insights_app_spark.functions.text import md5_fingerprint

    sp = df.select(
        F.col(id_col).alias("__sid"), F.col(split_col).alias("__split")
    )

    # fingerprint and split label in ONE projection of df — the former
    # `.join(sp, "__sid")` self-joined two projections of the same
    # table by id (a full-corpus Exchange Catalyst cannot collapse)
    # to reunite columns that were never apart (r13).
    fp = df.select(
        F.col(id_col).alias("__sid"),
        md5_fingerprint(F.col(text_col)).alias("__fp"),
        F.col(split_col).alias("__split"),
    )
    x, y = fp.alias("x"), fp.alias("y")
    exact = (
        x.join(
            y,
            (F.col("x.__fp") == F.col("y.__fp"))
            & (F.col("x.__sid") < F.col("y.__sid")),
        )
        .select(
            F.lit("exact").alias("rule"),
            F.col("x.__sid").alias("a"),
            F.col("y.__sid").alias("b"),
            F.col("x.__split").alias("sa"),
            F.col("y.__split").alias("sb"),
        )
    )

    pairs = minhash_near_dupes(
        df, id_col=id_col, text_col=text_col, threshold=threshold,
        **minhash_kwargs,
    )
    near = (
        pairs.join(sp.withColumnRenamed("__sid", "a"), "a")
        .withColumnRenamed("__split", "sa")
        .join(sp.withColumnRenamed("__sid", "b"), "b")
        .withColumnRenamed("__split", "sb")
        # an exact duplicate is a Jaccard-1.0 near duplicate; report it
        # once, under the stronger rule
        .join(exact.select("a", "b"), ["a", "b"], "left_anti")
        .select(F.lit("near").alias("rule"), "a", "b", "sa", "sb")
    )

    both = exact.unionByName(near).filter(F.col("sa") != F.col("sb"))
    norm = both.select(
        "rule", "a", "b",
        F.least("sa", "sb").alias("split_a"),
        F.greatest("sa", "sb").alias("split_b"),
    )
    return norm.groupBy("rule", "split_a", "split_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(F.struct("a", "b")).getField("a").alias("example_a"),
        F.min(F.struct("a", "b")).getField("b").alias("example_b"),
    )
