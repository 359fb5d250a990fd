"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a single scan with a JVM-side
dot product (F.aggregate over zipped arrays; no Python in the loop),
then TakeOrderedAndProject. Scale paths:

- ``ann_lsh_topk``: random-hyperplane LSH — probe only vectors sharing
  a signature bucket with the query (sign-bit signature via fixed
  deterministic hyperplanes).
- ``ivf_topk``: IVF-style coarse quantization — k-means-ish centroid
  assignment (deterministic seeded centroids sampled from the data),
  probe the ``nprobe`` nearest cells only.
- ``cosine_self_join_neardup``: embedding near-dup pairs, bucketed by a
  coarse key so no cross product forms.

Each operator has one execution lane; the registered queries run it
and their DuckDB twins gate it.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Index-ordered dot product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def _dlit(values) -> Column:
    """array<double> literal from ONE parsed SQL string.  The
    ``F.array(*[F.lit(x) ...])`` form this replaces walks the vector
    element by element over py4j — hundreds of driver round-trips per
    64-dim vector, pure construction overhead (r13 measured ~0.6 s of
    it per Lloyd iteration in the sibling clustering module).  ``repr``
    round-trips the exact bits; the ``D`` suffix pins DOUBLE (bare
    decimals parse as DECIMAL in Spark SQL)."""
    return F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"
    )


def _pynorm(vec) -> float:
    """The L2 norm of a CONSTANT vector, computed driver-side with the
    exact fold order of :func:`norm` (sequential float64 adds of the
    squares, then sqrt) — bit-identical to the JVM expression, so a
    literal of this value substitutes for ``norm(lit_vector)`` without
    perturbing any downstream rounding."""
    acc = 0.0
    for x in vec:
        x = float(x)
        acc += x * x
    return math.sqrt(acc)


def _q_cosine(vec: Column, query_vec: list[float]) -> Column:
    """``cosine(vec, literal query)`` with the query's constant norm
    folded to a driver-computed literal (``_pynorm`` — bit-identical to
    the JVM fold): one dot fold + one row-norm fold per row instead of
    three.  The interpreted higher-order-function folds are the cost
    center of every brute/exact cosine stage (they never reach
    whole-stage codegen), so dropping the per-row re-fold of a
    CONSTANT 64-literal array is a third of the stage for free."""
    return dot(vec, _dlit(query_vec)) / F.nullif(
        norm(vec) * F.lit(_pynorm(query_vec)), F.lit(0.0)
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k vs a literal query vector. One scan, no
    shuffle until the final top-k merge (TakeOrderedAndProject)."""
    sim = _q_cosine(_as_double(F.col(vec_col)), query_vec)
    return (
        df.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _deterministic_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Fixed pseudo-random unit hyperplanes from a splitmix64-style
    generator — deterministic across runs/engines, no numpy RNG state."""
    planes = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    def nxt():
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z = z ^ (z >> 31)
        return z / 2**64  # uniform [0,1)
    for _ in range(n_planes):
        # Box-Muller from the uniform stream → gaussian components
        comps = []
        while len(comps) < dim:
            u1, u2 = max(nxt(), 1e-12), nxt()
            r = math.sqrt(-2.0 * math.log(u1))
            comps.append(r * math.cos(2 * math.pi * u2))
            comps.append(r * math.sin(2 * math.pi * u2))
        planes.append(comps[:dim])
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature as a long (bit i = sign(vec · plane_i))."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        pl = _dlit(p)
        bit = F.when(dot(vec, pl) >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
        sig = sig.bitwiseOR(bit)
    return sig


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    max_hamming: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compute each vector's LSH signature, keep only
    vectors whose signature is within ``max_hamming`` bits of the
    query's, then exact cosine on the survivors. The signature filter is
    a pushdown-able integer predicate; with the table pre-partitioned by
    signature it becomes partition pruning."""
    dim = len(query_vec)
    planes = _deterministic_hyperplanes(dim, n_planes)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, p)) >= 0:
            qsig |= 1 << i
    v = _as_double(F.col(vec_col))
    sig = lsh_signature(v, planes)
    cand = df.withColumn("__sig", sig).filter(
        F.bit_count(F.col("__sig").bitwiseXOR(F.lit(qsig))) <= max_hamming
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(_q_cosine(_as_double(F.col(vec_col)), query_vec), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_self_join_neardup(
    df: DataFrame,
    bucket_col: str,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a coarse bucket (e.g. a
    cluster label, an LSH signature): group on the bucket then exact
    cosine. The bucket key bounds the pair blow-up; never a full cross
    join. Output (a, b, cosine).

    One shuffle groups each bucket onto an executor; the in-bucket pair
    dots run as d vectorized row-block multiply-adds accumulated IN
    DIMENSION ORDER — the JVM ``dot`` fold's exact IEEE sequence — and
    only pairs with raw ≥ threshold − 1e-6 leave Arrow (the margin
    covers the 6 dp rounding boundary); Spark applies F.round and the
    exact ≥ threshold filter, so emitted values equal
    round(dot/(nrm_l·nrm_r), 6) bit for bit.  Row-blocked (1 024 rows)
    so a hot bucket's g×g panel never materializes whole.

    Equi-join semantics: a row whose bucket key is NULL shares a bucket
    with nothing (SQL ``l.bk = r.bk`` is never true for NULL), so such
    rows are dropped before the group.  A zero-norm pair's cosine is
    undefined (denom == 0) and never emitted."""
    slim = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(bucket_col).alias("bk"),
            _as_double(F.col(vec_col)).alias("v"),
        )
        .filter(F.col("bk").isNotNull())
        .withColumn("nrm", norm(F.col("v")))
    )
    raw = _neardup_dense_pairs(slim, threshold)
    return raw.select(
        "a", "b", F.round(F.col("raw"), 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def _neardup_dense_pairs(slim: DataFrame, threshold: float) -> DataFrame:
    """Pair kernel of cosine_self_join_neardup: per bucket, all i<j
    pair dots via dimension-ordered row-block multiply-adds
    (bit-identical to the JVM fold); emits (a, b, raw) for pairs with
    raw ≥ threshold − 1e-6 — a superset of the rounded-filter
    survivors, finalized JVM-side."""
    import numpy as np
    import pandas as pd

    margin = threshold - 1e-6
    cols = ["a", "b", "raw"]

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        g = len(pdf)
        if g < 2:
            return pd.DataFrame({c: pd.Series([], dtype=t) for c, t in
                                 zip(cols, ("int64", "int64", "float64"))})
        pdf = pdf.sort_values("id")  # i<j in index order == a<b by id
        ids = pdf["id"].to_numpy(dtype=np.int64)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        d = X.shape[1]
        out_a, out_b, out_raw = [], [], []
        block = 1024
        for lo in range(0, g, block):
            hi = min(lo + block, g)
            acc = np.zeros((hi - lo, g))
            for k in range(d):
                acc += X[lo:hi, k : k + 1] * X[None, :, k]
            denom = nrm[lo:hi, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = acc / denom
            ok = (denom > 0) & (raw >= margin)
            # strict upper triangle: j > global row index
            ii, jj = np.nonzero(ok)
            keep = jj > (ii + lo)
            ii, jj = ii[keep], jj[keep]
            out_a.append(ids[ii + lo])
            out_b.append(ids[jj])
            out_raw.append(raw[ii, jj])
        return pd.DataFrame(
            {
                "a": np.concatenate(out_a) if out_a else np.array([], np.int64),
                "b": np.concatenate(out_b) if out_b else np.array([], np.int64),
                "raw": np.concatenate(out_raw)
                if out_raw else np.array([], np.float64),
            }
        )

    return slim.groupBy("bk").applyInPandas(
        per_bucket, schema="a long, b long, raw double"
    )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """IVF-flat: centroids = embeddings of ``n_cells`` deterministic
    seed rows (ids 0..n_cells-1 by default); every vector is assigned to
    its nearest centroid (argmax cosine); the query probes the
    ``nprobe`` nearest cells and runs exact cosine inside them only."""
    cents = _seed_centroids(df, n_cells, seed_ids, id_col, vec_col)
    if not cents:  # empty corpus: no cells -> empty top-k, same schema
        return df.select(
            F.col(id_col), F.lit(0.0).alias("cosine")
        ).limit(0)
    probe_ids = _probe_cells(query_vec, cents, nprobe)
    # the double-cast vector and its norm are shared by all n_cells
    # cell cosines AND the final exact cosine — materialize both ONCE
    # per row (withColumn projections; HOFs are non-cheap, so Catalyst
    # does not inline them back), instead of re-folding the cast 17×
    # and the norm 17× per row in interpreted HOF evaluation
    base = df.withColumn("__v", _as_double(F.col(vec_col))).withColumn(
        "__nv", norm(F.col("__v"))
    )
    cell = _cell_expr(F.col("__v"), cents, row_norm=F.col("__nv"))
    cand = base.withColumn("__cell", cell).filter(F.col("__cell").isin(probe_ids))
    sim = dot(F.col("__v"), _dlit(query_vec)) / F.nullif(
        F.col("__nv") * F.lit(_pynorm(query_vec)), F.lit(0.0)
    )
    return (
        cand.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _seed_centroids(
    df: DataFrame,
    n_cells: int,
    seed_ids: list[int] | None,
    id_col: str,
    vec_col: str,
) -> list[tuple[int, list[float]]]:
    """Centroids = embeddings of the deterministic seed rows — a
    bounded ≤ ``n_cells``-row collect (the one acceptable driver-side
    materialization in this family)."""
    seed_ids = seed_ids if seed_ids is not None else list(range(n_cells))
    return [
        (i, [float(x) for x in row[0]])
        for i, row in enumerate(
            df.filter(F.col(id_col).isin(seed_ids)).orderBy(id_col).select(vec_col).collect()
        )
    ]


def _cell_expr(
    vec_expr: Column,
    cents: list[tuple[int, list[float]]],
    row_norm: Column | None = None,
) -> Column:
    """Nearest-centroid argmax via an array of sims + array_position —
    NOT an iterated when-chain, whose expression tree doubles per
    centroid and OOMs the planner at 16 cells.

    Each cell cosine is ``dot(v, c)/nullif(norm(v)*norm(c), 0)`` with
    the CONSTANT centroid norm folded to a literal (``_pynorm`` is
    bit-identical to the JVM fold) and the row norm shared across all
    cells (pass ``row_norm`` as a materialized column to avoid
    re-folding it per cell): n_cells dot folds + 1 norm fold per row
    instead of 3·n_cells folds of interpreted HOF work — the values,
    and therefore the argmax and every downstream rounding, are
    unchanged bit for bit."""
    nv = norm(vec_expr) if row_norm is None else row_norm
    sims = F.array(
        *[
            dot(vec_expr, _dlit(cvec))
            / F.nullif(nv * F.lit(_pynorm(cvec)), F.lit(0.0))
            for _, cvec in cents
        ]
    )
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def _probe_cells(
    query_vec: list[float], cents: list[tuple[int, list[float]]], nprobe: int
) -> list[int]:
    probe = sorted(
        cents,
        key=lambda c: -(
            sum(a * b for a, b in zip(query_vec, c[1]))
            / (
                (sum(a * a for a in query_vec) ** 0.5)
                * (sum(b * b for b in c[1]) ** 0.5)
                or 1.0
            )
        ),
    )[:nprobe]
    return [c[0] for c in probe]


def cosine_topk_many(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Batched brute-force top-k: for EVERY query vector, its k nearest
    corpus vectors by cosine. The query set is broadcast (it is the
    small side by construction); scoring is one scan of the corpus per
    partition with JVM-side dot products; per-query top-k via a ranking
    window on the query id. Output (query_id, vec_id, cosine, rank)."""
    from pyspark.sql.window import Window

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("qid"),
            _as_double(F.col(query_vec_col)).alias("qv"),
        )
    )
    corpus = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    scored = corpus.crossJoin(q).select(
        "qid",
        id_col,
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumnRenamed("qid", query_id_col)
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    code_i = floor(x_i / scale + 0.5) clamped to [-127, 127] — the
    standard 4× storage/bandwidth cut for an ANN corpus (float32 →
    int8 + one scale per vector; recall loss is negligible at this
    precision for cosine ranking).

    Pure JVM array expressions (transform / array_max), zero shuffles,
    zero Python — at 100 TB this runs entirely inside the scan stage
    and writes a corpus 4× smaller for the ANN index build. Rounding is
    spelled floor(z + 0.5) rather than round() so every engine agrees
    bit-for-bit (round() half-even vs half-away differs across
    engines); all-zero vectors (scale 0) are dropped — they carry no
    direction and would otherwise divide by zero.

    Output: (id, scale: double, codes: array<long>)."""
    v = _as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    out = df.select(F.col(id_col), v.alias("__v"), scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    codes = F.transform(
        F.col("__v"),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / F.col("scale") + F.lit(0.5))),
        ).cast("long"),
    )
    return out.select(id_col, "scale", codes.alias("codes"))


def _round6_ge_cutoff(threshold: float) -> float:
    """The float64 cutoff c such that, for any finite double x,
    ``F.round(x, 6) >= threshold``  ⟺  ``x >= c`` — which lets a numpy
    lane replicate the JVM round-then-compare predicate EXACTLY with
    one vectorized comparison on the raw value.

    Spark's round(double, 6) is BigDecimal.valueOf(x) (the SHORTEST
    round-trip decimal, same value as Python repr) .setScale(6,
    HALF_UP) (ties away from zero) .toDouble — verified empirically on
    this build: 0.3999995 → 0.4, nextafter-below → 0.399999,
    -5e-07 → -1e-06.  round6 is monotone nondecreasing, so the
    predicate is a half-line.  Derivation: k_min is the smallest
    integer grid index whose rounded double clears the threshold; the
    decimal half-way point H = (k_min − ½)·10⁻⁶ is never itself a
    double ((2k−1)/2·10⁶ has a 5⁶ factor in the denominator), and a
    tie (shortest(x) == H) rounds UP into k_min for H > 0 but AWAY
    (down, out of k_min) for H < 0, so the half-line is closed at H
    for positive H and open for negative H.  Shortest-repr ordering
    agrees with double ordering, so the boundary double is resolved
    with one repr comparison."""
    import math
    from decimal import Decimal

    grid = Decimal(10) ** 6
    k = math.ceil(threshold * 1e6) + 2
    while float(Decimal(k - 1) / grid) >= threshold:
        k -= 1
    h = (Decimal(2 * k - 1)) / (2 * grid)
    hf = float(h)
    r = Decimal(repr(hf))
    if h > 0:
        return hf if r >= h else math.nextafter(hf, math.inf)
    return hf if r > h else math.nextafter(hf, math.inf)


def _semdedup_in_cluster_pandas(
    assigned: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Survivors of the in-cluster cosine screen, one applyInPandas
    group per cluster — BIT-IDENTICAL to a JVM pair probe
    ``round(dot(l, r)/nullif(nrm_l·nrm_r, 0), 6) >= threshold``: dots
    accumulate as column FMAs in dimension order (the exact IEEE
    sequence of the index-ordered ``dot`` fold — the
    ``_decontaminate_dense`` trick), norms are the same sequential
    sum-of-squares + sqrt, the cosine is the same single division by
    nrm_l·nrm_r, and the round(·,6) >= threshold predicate is replayed
    exactly via the precomputed :func:`_round6_ge_cutoff` half-line (no
    np.round, no summation-order caveat).  Zero-norm pairs match
    nothing, exactly like ``nullif``'s NULL predicate.

    Rows are id-sorted and each block's cosines are taken against
    every lower-or-self index, so 'drop if cosine ≥ threshold to ANY
    lower id' is exact; the per-dimension accumulation keeps the block
    buffer ≤ ~32 MB like the matmul it replaces."""
    import numpy as np
    import pandas as pd

    cutoff = _round6_ge_cutoff(threshold)
    # r14 (ADVICE): the output schema replays the INPUT id type instead
    # of hardcoding long — string ids no longer fail at runtime and
    # int ids are no longer silently widened.
    id_type = assigned.schema[id_col].dataType.simpleString()

    def screen(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        m = len(pdf)
        if m <= 1:
            return pdf[[id_col, "cluster"]]
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
        d = X.shape[1]
        nsq = np.zeros(m)
        for i in range(d):               # index-ordered fold == JVM norm
            nsq += X[:, i] * X[:, i]
        nrm = np.sqrt(nsq)
        drop = np.zeros(m, dtype=bool)
        b = max(256, (1 << 22) // max(m, 1))   # ≤ ~32 MB per block
        for s in range(0, m, b):
            e = min(s + b, m)
            dots = np.zeros((e - s, e))
            for i in range(d):           # index-ordered fold == JVM dot
                dots += X[s:e, i][:, None] * X[:e, i][None, :]
            den = nrm[s:e][:, None] * nrm[:e][None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                hit = (den != 0.0) & ((dots / den) >= cutoff)
            lower = np.tril(hit, k=s - 1)      # j < global row id only
            drop[s:e] |= lower.any(axis=1)
        return pdf.loc[~drop, [id_col, "cluster"]]

    out = assigned.select(F.col(id_col), F.col("cluster"), F.col(vec_col))
    return (
        out.groupBy("cluster")
        .applyInPandas(screen, schema=f"{id_col} {id_type}, cluster int")
        .select(F.col(id_col), "cluster")
    )


def semdedup(
    df: DataFrame,
    k: int | None = 8,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    embedding space with k-means, then WITHIN each cluster drop every
    vector that is near-identical (cosine ≥ ``threshold``) to a
    lower-id member; the minimum id of each near-duplicate
    neighborhood survives.

    Scale shape: the O(n²) cosine work is confined to each cluster by
    grouping on the cluster id — the standard SemDeDup trick that
    makes web-scale semantic dedup tractable.  ``k=None`` applies the
    paper's k ≈ √n rule (clustering.heuristic_k), which keeps expected
    cluster sizes, and therefore the per-cluster quadratic term,
    bounded as the corpus grows; above clustering.LARGE_K the
    assignment automatically switches to the broadcast-numpy path so a
    web-scale k (10⁴–10⁵) never reaches the expression planner.  One
    shuffle groups each cluster, and the in-cluster screen runs in the
    Arrow lane (:func:`_semdedup_in_cluster_pandas`, bit-identical to
    the JVM cosine expression and free of its quadratic interpreted
    higher-order-function evaluation), so no pair set is ever
    materialized to the driver.  Deterministic: k-means init is the k
    smallest ids (operators/clustering.py), and the keep rule is pure
    min-id.

    Returns the SURVIVING (id, cluster) rows.
    """
    from market_insights_app_spark.operators import clustering

    cents = clustering.kmeans_fit(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    if not cents:  # empty corpus -> nothing to dedup, same schema
        return df.select(
            F.col(id_col), F.lit(0).cast("int").alias("cluster")
        ).limit(0)
    v = _as_double(F.col(vec_col))
    if len(cents) > clustering.LARGE_K:
        # web-scale path: one shuffle groups each cluster onto an
        # executor, then the quadratic cosine screen runs as blocked
        # numpy (the SemDeDup paper's own in-cluster formulation) — the
        # measured 1M-vector probe went from 509 s of interpreted JVM
        # array folds to seconds of BLAS.  k ≈ √n keeps each group
        # ≈ √n rows, so the per-group matrices are bounded.
        assigned = clustering._assign_pandas(
            df, cents, id_col, vec_col, keep_vec=True
        )
        return _semdedup_in_cluster_pandas(assigned, threshold, id_col, vec_col)
    # gate path (small k): label + vector in ONE scan-stage select — no
    # join back; every arithmetic step is an engine-exact JVM expression
    a = df.select(
        F.col(id_col).alias("id"),
        clustering._best_struct(v, cents)["c"].alias("cluster"),
        v.alias("v"),
    )
    # measured at sf0.1: the JVM pair screen loses to the Arrow lane at
    # every cluster size, same finding as semantic_decontaminate.  The
    # labeled frame has exactly ONE consumer and applyInPandas
    # reshuffles by cluster anyway, so no repartition or checkpoint:
    # either would cost a full extra corpus materialization per call.
    return _semdedup_in_cluster_pandas(a, threshold, "id", "v").select(
        F.col("id").alias(id_col), "cluster"
    )


def semantic_decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag every training vector
    whose cosine similarity to ANY eval-set vector reaches
    ``threshold`` — the semantic complement of the n-gram
    ``decontaminate`` lane (operators/dedup.py), catching paraphrased
    or lightly-rewritten benchmark leakage that exact n-gram overlap
    misses (the contamination audit shape of GPT-3 §C / PaLM app. E).

    Scale shape: eval suites are small (10³–10⁵ vectors) while the
    corpus is the whole crawl, so the eval side is BROADCAST and the
    corpus is scanned exactly once.  The eval matrix is collected
    (bounded: it IS the broadcast side) and each corpus batch computes
    all dots as ``d`` vectorized column-FMAs accumulated IN DIMENSION
    ORDER — the exact IEEE operation sequence of the JVM ``dot`` fold,
    so the doubles match bit for bit while running at numpy speed
    instead of interpreted expression speed (measured 90 s → seconds at
    200 k × 1 k × 64; interleaved best-of-3 at sf0.1 measured it faster
    than a crossJoin of JVM dot folds at EVERY eval size down to a
    single row, e.g. 0.50 vs 0.55 s at 1, 0.37 vs 1.33 s at 100).  An
    empty eval set yields no rows.

    The argmax runs on the UNROUNDED cosine (bit-identical to the
    DuckDB twin) with ties to the LOWEST eval id; rounding to 6 dp
    happens once, on the emitted maximum.  A zero-norm pair's cosine
    is undefined; the operator and the twin coalesce it to the
    sentinel -2.0 (below any real cosine), so such rows surface as
    contaminated=false rather than vanishing.

    Returns one row per train vector: (``id_col``, nearest_eval_id,
    max_cosine, contaminated).

    Resource note: the eval broadcast stays resident only while the
    returned plan is alive — it is captured by the Arrow closure, and
    Spark's ContextCleaner reclaims the broadcast blocks once the frame
    is garbage-collected (no session-lifetime leak; an explicit
    destroy() is impossible while the plan can still execute).
    """
    tr = train.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    ev_rows = [
        (r[0], list(r[1]))
        for r in evalset.select(id_col, vec_col).collect()
    ]
    best = _decontaminate_dense(tr, ev_rows)
    return best.select(
        F.col("id").alias(id_col),
        F.col("eid").alias("nearest_eval_id"),
        F.round(F.col("raw"), 6).alias("max_cosine"),
        (F.round(F.col("raw"), 6) >= F.lit(threshold)).alias("contaminated"),
    )


def _decontaminate_dense(
    tr: DataFrame, ev_rows: list, eval_chunk: int = 8_192
) -> DataFrame:
    """Pair kernel of semantic_decontaminate: per corpus batch, all
    (train, eval) dots via ``d`` vectorized multiply-adds accumulated
    in dimension order — bit-identical to the JVM fold (same IEEE ops,
    same order), at numpy speed.  Returns (id, eid, raw).

    The eval side is processed in ``eval_chunk``-column panels so the
    per-batch score matrix stays bounded (batch × eval_chunk doubles ≈
    0.6 GB at 10k × 8k) no matter how large the eval suite grows; the
    running (best, eid) pair is folded ACROSS panels in ascending-eid
    order, so chunking cannot change the winner (strict > keeps the
    earliest eid on ties, exactly as within one panel)."""
    import numpy as np
    import pandas as pd

    # ascending eid once, globally: the cross-panel fold then sees
    # candidates in eid order and strict > preserves the lowest-eid
    # tie-break across panel boundaries
    ev_sorted = sorted(((int(e), [float(x) for x in v]) for e, v in ev_rows),
                       key=lambda t: t[0])
    eid_np = np.asarray([e for e, _ in ev_sorted], dtype=np.int64)
    ev_np = (
        np.asarray([v for _, v in ev_sorted], dtype=np.float64)
        if ev_sorted else np.zeros((0, 0))
    )
    # TorrentBroadcast of the packed float64 matrix — NOT closure
    # capture: pickled-per-task Python lists would ship ~25 bytes per
    # float (2.4 GB of objects at a 10^5 x 10^3 eval suite) where the
    # broadcast moves the 8-byte-per-value array once per executor
    bc = tr.sparkSession.sparkContext.broadcast((eid_np, ev_np))

    def run(batches):
        eid_all, E_all = bc.value
        m, d = E_all.shape if E_all.size else (0, 0)
        enrm_all = np.zeros(m)
        for i in range(d):
            enrm_all += E_all[:, i] * E_all[:, i]
        enrm_all = np.sqrt(enrm_all)
        for pdf in batches:
            if not len(pdf) or m == 0:
                yield pd.DataFrame(
                    {"id": pd.Series([], dtype="int64"),
                     "eid": pd.Series([], dtype="int64"),
                     "raw": pd.Series([], dtype="float64")}
                )
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
            )  # (b, d)
            tnrm = np.asarray(pdf["nrm"], dtype=np.float64)
            best_val = np.full(len(X), -np.inf)
            best_eid = np.zeros(len(X), dtype=np.int64)
            for lo in range(0, m, eval_chunk):
                hi = min(lo + eval_chunk, m)
                E = E_all[lo:hi]
                acc = np.zeros((len(X), hi - lo))
                for i in range(d):
                    acc += X[:, i : i + 1] * E[None, :, i]
                denom = tnrm[:, None] * enrm_all[None, lo:hi]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = acc / denom
                raw[denom == 0.0] = -2.0  # the zero-norm sentinel
                # argmax on the unrounded (bit-identical) value, ties
                # to the LOWEST eval id: eval columns arrive in
                # ascending-eid order, strict > keeps the earliest
                for j in range(hi - lo):
                    col = raw[:, j]
                    upd = col > best_val
                    best_val[upd] = col[upd]
                    best_eid[upd] = eid_all[lo + j]
            yield pd.DataFrame(
                {
                    "id": np.asarray(pdf["id"], dtype=np.int64),
                    "eid": best_eid,
                    "raw": best_val,
                }
            )

    return tr.select("id", "v", "nrm").mapInPandas(
        run, schema="id long, eid long, raw double"
    )


def hard_negatives(
    pool: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_chunk: int = 65_536,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor,
    the ``k`` most-cosine-similar pool vectors with a DIFFERENT label
    (and a different id) — the "confusable but wrong" examples a
    retrieval/embedding trainer wants beside each positive (DPR /
    SimCSE-style mining).

    Scale shape: anchors ride a broadcast into one pool scan — the
    semantic_decontaminate join geometry — and the per-anchor top-k is
    a ranked window on the anchor key (one shuffle of the surviving
    candidates, AQE handles skew).  Nothing runs an action over the
    pool (the unbounded side): full-corpus mining (anchors ≈ the
    training set) is handled by streaming the anchor side to the driver
    in bounded chunks of ``anchor_chunk`` rows (``toLocalIterator`` — never an
    unbounded collect), one broadcast panel per chunk; each anchor
    lands in exactly one chunk, so the per-anchor window still sees
    its complete candidate superset.  Chunks execute SEQUENTIALLY:
    as soon as a second chunk exists, the previous chunk's candidate
    frame is eagerly materialized (``localCheckpoint``) and its panel
    broadcast destroyed before the next panel is built, so peak panel
    residency — driver and executors — is O(``anchor_chunk``) vectors,
    never O(total anchors); what accumulates is only each chunk's
    already-reduced local top-k candidates (≤ anchors × pool-batches
    × k rows).  The pool is scanned once PER CHUNK (⌈anchors /
    anchor_chunk⌉ scans total) — the explicit cost of bounding panel
    memory; size ``anchor_chunk`` to the executor budget, not smaller.

    Each pool batch scores its anchors in dimension-ordered vectorized
    panels (the decontaminate pattern: the JVM ``dot`` fold's exact
    IEEE sequence) and pre-reduces to its LOCAL top-k per anchor under
    the (raw desc, id asc) order — a superset of the global winners
    present in that batch — so the window ranks k·batches candidates
    per anchor instead of the whole pool.

    Ranking happens on the UNROUNDED cosine, ties to the lower pool id;
    the emitted cosine rounds to 6 dp once.  Same-id, same-label,
    NULL-label and zero-norm pairs are excluded.

    Returns (anchor_id, rank, ``id_col``, ``label_col``, cosine) —
    ``rank`` 1..k, hardest first.

    Resource note: in the single-chunk case (anchors ≤ ``anchor_chunk``
    — the common mining batch) the one panel broadcast lives only as
    long as the returned plan — captured by its Arrow closure and
    reclaimed by the ContextCleaner when the frame is dropped (no
    session-lifetime residency).  Multi-chunk plans are partially
    EAGER: all but the last chunk have already run by the time this
    returns (their broadcasts destroyed), and the returned frame
    unions their checkpointed results with the last chunk's lazy scan.
    """
    from pyspark.sql.window import Window

    p = pool.select(
        F.col(id_col).alias("pid"),
        F.col(label_col).alias("p_label"),
        _as_double(F.col(vec_col)).alias("pv"),
    ).withColumn("pnrm", norm(F.col("pv")))
    # stream anchors in bounded chunks — no action over the pool, no
    # unbounded driver collect
    sel = anchors.select(id_col, label_col, vec_col)
    chunk_dfs: list[DataFrame] = []
    last_bc = None
    buf: list = []

    def flush(chunk: list) -> None:
        # sequential chunk execution: materialize the previous chunk's
        # (already top-k-reduced) candidates and destroy its panel
        # broadcast BEFORE building the next panel, so only one chunk's
        # panel is ever resident anywhere
        nonlocal last_bc
        if chunk_dfs:
            chunk_dfs[-1] = chunk_dfs[-1].localCheckpoint(eager=True)
            last_bc.destroy()
        cand, last_bc = _hard_negative_candidates(p, chunk, k)
        chunk_dfs.append(cand)

    for row in sel.toLocalIterator():
        buf.append(row)
        if len(buf) >= anchor_chunk:
            flush(buf)
            buf = []
    if buf or not chunk_dfs:
        flush(buf)
    pairs = reduce(DataFrame.unionByName, chunk_dfs)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("raw").desc(), F.col("pid").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "rank",
            F.col("pid").alias(id_col),
            F.col("__lbl").alias(label_col),
            F.round(F.col("raw"), 6).alias("cosine"),
        )
    )


# in-kernel anchor panel width: keeps the per-batch score block
# (arrow_batch × block) cache-sized — measured optimum ~512-1024 at
# dim 64 / 10k-row Arrow batches (SCALE_NOTES r9)
_HN_PANEL_BLOCK = 1_024


def _hard_negative_candidates(p: DataFrame, a_rows: list, k: int):
    """Pair kernel of hard_negatives: per pool batch, dimension-ordered
    cosine panels against the broadcast anchor matrix, then a LOCAL
    per-anchor top-k under the exact global order (raw desc, pid asc)
    — any global winner present in the batch survives its batch's
    local cut, so the downstream window sees a correct superset.
    Returns (candidates DataFrame of (anchor_id, pid, __lbl, raw),
    panel broadcast) — the caller owns the broadcast's lifetime so
    sequential chunking can destroy each panel before the next."""
    import numpy as np
    import pandas as pd

    a_sorted = sorted(
        ((int(r[0]), r[1], [float(x) for x in r[2]]) for r in a_rows),
        key=lambda t: t[0],
    )
    aid_np = np.asarray([i for i, _, _ in a_sorted], dtype=np.int64)
    albl = [l for _, l, _ in a_sorted]
    av_np = (
        np.asarray([v for _, _, v in a_sorted], dtype=np.float64)
        if a_sorted else np.zeros((0, 0))
    )
    bc = p.sparkSession.sparkContext.broadcast((aid_np, albl, av_np))
    # resolved driver-side and captured BY VALUE in the closure: a
    # module-global read inside ``run`` would resolve on the executor
    # to whatever the re-imported module holds, silently ignoring
    # driver-side overrides (incl. the boundary-crossing test's)
    block = _HN_PANEL_BLOCK

    def run(batches):
        aid, albl_v, A = bc.value
        m, d = A.shape if A.size else (0, 0)
        anrm = np.zeros(m)
        for i in range(d):
            anrm += A[:, i] * A[:, i]
        anrm = np.sqrt(anrm)
        empty = pd.DataFrame(
            {"anchor_id": pd.Series([], dtype="int64"),
             "pid": pd.Series([], dtype="int64"),
             "__lbl": pd.Series([], dtype="object"),
             "raw": pd.Series([], dtype="float64")}
        )
        for pdf in batches:
            if not len(pdf) or m == 0:
                yield empty
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["pv"]])
            pnrm = np.asarray(pdf["pnrm"], dtype=np.float64)
            pids = np.asarray(pdf["pid"], dtype=np.int64)
            plbl = pdf["p_label"].to_numpy()
            rows_a, rows_p, rows_l, rows_r = [], [], [], []
            # SQL != is NULL-excluding on BOTH sides: a NULL-label pool
            # row is never a negative, and a NULL-label anchor gets no
            # negatives at all (numpy's None != x would say True, and
            # Arrow hands a nullable int column to pandas as NaN —
            # isna() catches both encodings)
            pool_lbl_ok = ~pdf["p_label"].isna().to_numpy()
            # anchor panels are BLOCKED inside the one pool scan: a
            # (batch × m) score matrix at m = thousands thrashes cache
            # (measured 2.4× slower than 1 024-wide panels at m = 4 096,
            # SCALE_NOTES r9).  Blocking keeps the working set
            # cache-sized WITHOUT extra pool scans — the chunked-anchor
            # path (anchor_chunk) remains only the broadcast-size bound.
            for blo in range(0, m, block):
                bhi = min(blo + block, m)
                acc = np.zeros((len(X), bhi - blo))
                for i in range(d):
                    acc += X[:, i : i + 1] * A[None, blo:bhi, i]
                denom = pnrm[:, None] * anrm[None, blo:bhi]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = acc / denom
                for j in range(blo, bhi):
                    if albl_v[j] is None:
                        continue
                    jb = j - blo
                    ok = (
                        (denom[:, jb] > 0)
                        & (pids != aid[j])
                        & (plbl != albl_v[j])
                        & pool_lbl_ok
                        & np.isfinite(raw[:, jb])
                    )
                    idx = np.nonzero(ok)[0]
                    if not len(idx):
                        continue
                    # local top-k under the global order (raw desc, pid
                    # asc).  O(b) threshold partition first, exact
                    # lexsort only on the survivors: a full per-anchor
                    # lexsort of the batch was the other measured panel
                    # bottleneck (~2×, SCALE_NOTES r9).  The >=
                    # threshold keeps EVERY boundary tie, so the exact
                    # sort sees all potential winners — bit-identical
                    # selection.
                    rj = raw[idx, jb]
                    if len(idx) > k:
                        thresh = np.partition(rj, len(rj) - k)[len(rj) - k]
                        keep = rj >= thresh
                        idx, rj = idx[keep], rj[keep]
                    order = np.lexsort((pids[idx], -rj))[:k]
                    sel = idx[order]
                    rows_a.append(np.full(len(sel), aid[j], dtype=np.int64))
                    rows_p.append(pids[sel])
                    rows_l.append(plbl[sel])
                    rows_r.append(raw[sel, jb])
            if not rows_a:
                yield empty
                continue
            yield pd.DataFrame(
                {
                    "anchor_id": np.concatenate(rows_a),
                    "pid": np.concatenate(rows_p),
                    "__lbl": pd.Series(
                        np.concatenate(rows_l), dtype="object"
                    ),
                    "raw": np.concatenate(rows_r),
                }
            )

    lbl_type = dict(p.dtypes)["p_label"]
    cand = p.select("pid", "p_label", "pv", "pnrm").mapInPandas(
        run,
        schema=f"anchor_id long, pid long, __lbl {lbl_type}, raw double",
    )
    return cand, bc
