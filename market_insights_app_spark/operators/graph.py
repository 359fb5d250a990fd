"""Iterative graph analytics on DataFrames: PageRank.

PageRank (Page et al. 1999) is the canonical link-graph centrality of
a web-crawl pipeline — at 100 TB it ranks hosts/pages so that crawl
frontier scheduling, per-domain quality priors (e.g. the Common Crawl
host-level ranking shipped alongside the crawls) and spam demotion all
have a signal.  The repo already covers *component* structure
(operators/dedup.duplicate_clusters); this adds *importance*
structure — the second classic message-passing family.

Spark-first shape: each iteration is one equi-join (ranks onto the
out-edge list, key = src) followed by one map-side-combinable groupBy
(sum of contributions, key = dst) and a left join back onto the node
set — no RDDs, no driver-side graph.  At scale the edge list is
pre-partitioned by ``src`` ONCE and every iteration reuses that
partitioning for its join; only the contribution sum shuffles.  The
rank frame is a handful of longs per node.  Lineage is cut with an
eager ``localCheckpoint`` EVERY iteration (see the note above
``pagerank``) — the same lineage-cutting idea as the
connected-components loop (dedup.py), at a cadence measurement chose.

Cross-engine determinism: ranks live on an INTEGER grid (parts per
``grid``, default 1e9 — the same 10⁻⁹ fixed-point contract as the
market-analytics lane, operators/market.py).  Each contribution is an
integer floor-division ``rank_grid div outdeg``, the damped sum is
``(damping_pct * Σ) div 100``, and the teleport term is
``(100 - damping_pct) * grid div (100 * n)`` — every operation is
exact int64 arithmetic, so the result is bit-identical across Spark
partitionings, engines (the DuckDB twin replays the same integers) and
cluster sizes.  int64 headroom: total mass ≤ grid = 1e9, so the worst
per-node damped product is ≤ 85 * 1e9 ≪ 2^63.

Dangling nodes (out-degree 0) keep receiving rank but forward none —
their outbound mass evaporates instead of being redistributed (the
"remove dangling mass" PageRank variant; totals then sum to < 1).
This keeps every iteration one join + one aggregate; the
redistribution variant (``redistribute_dangling=True``) pays an extra
global scalar + eager lineage cut per iteration to conserve mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Eager lineage cut EVERY iteration: counter-intuitively ~2× faster
# end-to-end than batching 4 iterations into one plan (measured 20.0 s
# → 10.5 s at 1M nodes / 3M edges / 10 iters,
# SCALE_NOTES.md "r9: PageRank", at commit faebac6) — a deep iterated
# join plan pays superlinear planning + sort cost, while per-iteration
# checkpoints keep each job flat over a materialized rank frame of
# 2 longs/node.

# Cut cadence in the collapsed-to-1-partition regime, where the loop is
# job-scheduling-bound and stacking a few iterations per cut beats the
# at-width rule above (paired A/B in
# SCALE_NOTES.md "r10: PageRank", at commit faebac6).  Module-level so
# probes/tests can pair the two cadences inside one session.
_TINY_CUT_EVERY = 3


def _pagerank_tiny(
    e: DataFrame,
    iterations: int,
    damping_pct: int,
    grid: int,
    tol_grid: int | None,
    redistribute_dangling: bool,
) -> DataFrame:
    """Single-Arrow-task PageRank for graphs under ``tiny_threshold``
    nodes (see :func:`pagerank`): the canonical-form edge list
    (distinct, self-loops dropped) collapses to one partition and one
    mapInPandas task replays the exact int64 grid recurrence in numpy.
    Every arithmetic step mirrors the distributed lane operation for
    operation — floor divisions on non-negative int64 match SQL
    ``div``, the damped sum and teleport term are the same integers,
    tol stops after the update exactly like the driver-scalar branch,
    and the dangling mass is summed over out-degree-0 nodes BEFORE the
    update — so the two lanes are bit-identical by construction (and
    pinned so in tests/test_graph.py)."""
    schema = "node long, rank_grid long, pagerank double"

    def task(batches):
        import numpy as np
        import pandas as pd

        parts = [p for p in batches]
        pdf = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame({"src": [], "dst": []})
        )
        src = pdf["src"].to_numpy(dtype=np.int64, copy=False)
        dst = pdf["dst"].to_numpy(dtype=np.int64, copy=False)
        node_ids = np.unique(np.concatenate([src, dst]))
        m = len(node_ids)
        if m == 0:
            yield pd.DataFrame(
                {"node": [], "rank_grid": [], "pagerank": []}
            ).astype({"node": "int64", "rank_grid": "int64",
                      "pagerank": "float64"})
            return
        si = np.searchsorted(node_ids, src)
        di = np.searchsorted(node_ids, dst)
        out = np.bincount(si, minlength=m).astype(np.int64)
        teleport = ((100 - damping_pct) * grid) // (100 * m)
        rank = np.full(m, grid // m, dtype=np.int64)
        dangling = out == 0
        for i in range(iterations):
            share = (
                int(rank[dangling].sum()) // m
                if redistribute_dangling
                else 0
            )
            contrib = rank[si] // out[si]
            s = np.zeros(m, dtype=np.int64)
            np.add.at(s, di, contrib)
            new = teleport + (damping_pct * (s + share)) // 100
            delta = (
                int(np.abs(new - rank).sum())
                if tol_grid is not None and i + 1 < iterations
                else None
            )
            rank = new
            if delta is not None and delta <= tol_grid:
                break
        yield pd.DataFrame(
            {
                "node": node_ids,
                "rank_grid": rank,
                "pagerank": rank.astype(np.float64) / float(grid),
            }
        )

    return e.repartition(1).mapInPandas(task, schema=schema)


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping_pct: int = 85,
    grid: int = 10**9,
    tol_grid: int | None = None,
    redistribute_dangling: bool = False,
    tiny_threshold: int = 0,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list.

    Parallel edges are collapsed (an edge either exists or not —
    unweighted PageRank); self-loops are dropped.  Returns one row per
    node: (node, rank_grid BIGINT, pagerank DOUBLE) where
    ``pagerank = rank_grid / grid`` and ``rank_grid`` is the exact
    integer the iteration produced (the hash-gateable value).

    ``damping_pct`` is the damping factor in integer percent (85 =
    the classic 0.85) so the damped sum stays on the integer grid.

    ``tol_grid`` enables early convergence: stop once the L1 rank
    delta Σ|new − old| (grid units — exact int64, so the stopping
    decision is engine- and partitioning-deterministic, unlike a
    float-ε test) drops to ``tol_grid`` or below.  Costs one driver
    scalar per iteration; ``iterations`` stays the hard cap, so the
    result equals the fixed-iteration run with however many rounds
    convergence actually took.

    ``tiny_threshold`` (r11, opt-in: 0 = off) collapses the WHOLE
    iteration into one Arrow task when the node count — the same
    driver scalar the partition-sizing logic already pays — is at or
    below it: at small graph sizes the distributed loop is pure
    job-scheduling overhead (10 iterations × join+agg+cut ≈ 30 jobs
    for a result a single numpy pass computes in milliseconds), while
    past the threshold nothing changes.  The task replays the exact
    int64 grid arithmetic (floor-div contributions, damped integer
    sum, same teleport term, same tol/dangling semantics), so ranks
    are BIT-IDENTICAL to the distributed lane — pinned cross-lane and
    against the pure-Python reference in tests/test_graph.py.  Memory
    bound: one task holds the tiny edge list + two int64 vectors of
    length n ≤ tiny_threshold.

    ``redistribute_dangling`` opts into the mass-conserving variant:
    each iteration adds the dangling nodes' rank mass back uniformly
    (``new = teleport + (damping_pct · (s + D div n)) div 100`` with
    ``D`` = Σ rank over out-degree-0 nodes), so ranks sum to ~1·grid
    up to integer-division dust — what host-ranking consumers usually
    expect.  Cost: ONE extra global scalar (and an eager lineage cut)
    per iteration, exactly the trade the default avoids; the default
    (False) keeps the evaporating-mass variant the registered oracle
    replays.

    The edge-list cache is dropped (``unpersist``) before returning:
    the returned frame is cut from the iteration lineage, so repeated
    calls in one session don't accumulate executor cache residency.
    """
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # The gate's node count and the tiny lane's Arrow task EACH
    # evaluate the edge upstream once (two total).  That is the right
    # default: a gate-side persist was measured at fixture scale as a
    # net PESSIMIZATION for cheap upstreams (+0.7 s on pagerank_links'
    # synthetic projection — cache write + blocking release cost more
    # than the saved recompute, r12 bench).  Callers whose edge
    # derivation is expensive materialize it THEMSELVES before calling
    # (host_pagerank eagerly checkpoints the host edge list, which its
    # name join needs anyway — pipelines/crawl_corpus.py).
    default_parts = edges.sparkSession.sparkContext.defaultParallelism
    nodes_plain = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # one driver scalar, same bound as a k-means k.  r14: the count
    # runs on the PLAIN distinct — no wide repartition, no persist.
    # Both of those only pay off in the distributed iteration below
    # (nodes anchors every iteration's left join), so the tiny lane —
    # where the gate count is the ONLY job this function runs — no
    # longer writes a 32-partition cache it immediately drops, and the
    # distributed lane can lay ``nodes`` out at its final
    # data-adaptive width directly instead of persisting wide and
    # re-persisting slim (the r9-r13 relayout dance paid an extra
    # materialization job whenever the graph was small).
    n = nodes_plain.count()
    if n == 0:
        return nodes_plain.select(
            F.col("node"),
            F.lit(0).cast("long").alias("rank_grid"),
            F.lit(0.0).alias("pagerank"),
        )
    if 0 < tiny_threshold and n <= tiny_threshold:
        return _pagerank_tiny(
            e, iterations, damping_pct, grid, tol_grid,
            redistribute_dangling,
        )
    # DATA-ADAPTIVE partition count for the iteration working set: at
    # small graph sizes the 10-iteration loop is pure task-scheduling
    # overhead, and full-width layouts more than double it (sf0.1
    # fixture: 32 parts 6.3 s vs 8 parts 2.8 s best-of-2,
    # SCALE_NOTES.md "r9: PageRank", at commit faebac6).  ≥ ~10k
    # nodes/partition before going wide; big graphs keep
    # every core (parts = defaultParallelism) and pay NOTHING extra.
    # nodes is persisted like elist: it anchors EVERY iteration's left
    # join, and unpersisted it re-runs its 2·|E|-row distinct once per
    # iteration inside each action — measured 19.6 s → 15.5 s
    # end-to-end at 1M nodes / 3M edges / 10 iters
    # (SCALE_NOTES.md "r9: PageRank", at commit faebac6).
    # Partitioned by the join key once so the per-iteration join
    # reuses the layout; dropped with elist before return.
    parts = max(1, min(default_parts, n // 10_000))
    nodes = nodes_plain.repartition(parts, "node").persist()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out"))
    # one edge-list frame carrying the out-degree, partitioned by the
    # join key once so all `iterations` joins reuse the layout.
    # persist(), deliberately NOT localCheckpoint: a checkpointed
    # RDD-backed frame loses size statistics and the planner demotes
    # every iteration's join to a sorted SMJ — measured ~2.6× slower
    # at 1M nodes / 10 iterations (r8 probe; its timer undercounted
    # absolute cost, corrected in
    # SCALE_NOTES.md "r9: PageRank", at commit faebac6 — but both
    # variants equally, so the relative conclusion stands).  The
    # cache-residency trade is bounded (edges × ~3 longs) and released
    # before return.
    elist = (
        e.join(outdeg, "src")
        .repartition(parts, "src")
        .persist()
    )
    teleport = ((100 - damping_pct) * grid) // (100 * n)
    pr = nodes.select(
        "node", F.lit(grid // n).cast("long").alias("rank_grid")
    )
    dangling = (
        nodes.join(elist.select(F.col("src").alias("node")), "node", "left_anti")
        if redistribute_dangling
        else None
    )
    # exactly ONE eager lineage cut per iteration frame (r9 ADVICE: the
    # default+tol lane paid two back-to-back localCheckpoints — a full
    # extra materialization of the rank frame per iteration).  pr_cut
    # tracks whether the CURRENT pr is already checkpointed.
    #
    # DATA-ADAPTIVE cut cadence (r10, values unaffected — checkpoint
    # placement is resource lifecycle): at big widths the per-iteration
    # cut is load-bearing (1M nodes: cadence-1 10.5 s vs cadence-2
    # 14.2 s — plan depth costs superlinear planning + sort there,
    # SCALE_NOTES.md "r9: PageRank", at commit faebac6), but in the
    # collapsed-to-1-partition regime the loop is pure job-scheduling
    # overhead and stacking 3 iterations per cut is measurably cheaper
    # (sf0.1 fixture best-of-3: cadence-1 3.25 s, cadence-3 2.78 s,
    # cadence-10 worse again —
    # SCALE_NOTES.md "r10: PageRank", at commit faebac6).  Lanes that
    # run a per-iteration ACTION on pr (tol delta,
    # dangling-mass scalar) stay at cadence 1: an un-cut pr would
    # recompute its whole stacked chain inside every such action.
    cut_every = (
        _TINY_CUT_EVERY
        if parts == 1 and tol_grid is None and not redistribute_dangling
        else 1
    )
    pr_cut = False
    for i in range(iterations):
        if redistribute_dangling:
            # the mass-conserving variant's extra cost is ONE global
            # scalar per iteration; the lineage cut doubles as the
            # loop's standard per-iteration checkpoint — skipped when
            # the tol branch already cut this frame last iteration
            if not pr_cut:
                pr = pr.localCheckpoint(eager=True)
            d_mass = (
                pr.join(dangling, "node").agg(F.sum("rank_grid")).first()[0]
                or 0
            )
            share = d_mass // n
        else:
            share = 0
        contribs = (
            elist.join(pr, elist["src"] == pr["node"])
            .select(
                F.col("dst"),
                F.expr("rank_grid div out").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        prev = pr
        pr = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_pct} * (coalesce(s, 0) + {share})) div 100"
                    )
                ).cast("long").alias("rank_grid"),
            )
        )
        pr_cut = False
        if (
            i + 1 < iterations
            and (not redistribute_dangling or tol_grid is not None)
            and (i + 1) % cut_every == 0
        ):
            # one cut, reused by the tol delta scan AND the next
            # iteration's join (and, on the redistribute lane, by the
            # next iteration's dangling-mass scan)
            pr = pr.localCheckpoint(eager=True)
            pr_cut = True
        if tol_grid is not None and i + 1 < iterations:
            delta = (
                pr.join(
                    prev.select(
                        "node", F.col("rank_grid").alias("__old")
                    ),
                    "node",
                )
                .agg(F.sum(F.abs(F.col("rank_grid") - F.col("__old"))))
                .first()[0]
            )
            if delta is not None and delta <= tol_grid:
                break
    # cut the returned frame from the iteration lineage, then drop the
    # edge-list cache: repeated pagerank() calls in one session must
    # not accumulate executor cache blocks (the persist is an
    # iteration-internal working set, not part of the result).
    # blocking=True makes the release deterministic — the checkpoint
    # above already paid the materialization, so there is no work to
    # overlap with, and the guard test can assert the exact residue
    # (one checkpointed result RDD, nothing else).
    if not pr_cut:
        pr = pr.localCheckpoint(eager=True)
    elist.unpersist(blocking=True)
    nodes.unpersist(blocking=True)
    out = pr.select(
        "node",
        "rank_grid",
        (F.col("rank_grid").cast("double") / F.lit(float(grid))).alias(
            "pagerank"
        ),
    )
    return out


def synthetic_link_graph(docs: DataFrame) -> DataFrame:
    """Deterministic, SKEWED link graph over the documents table.

    Three arms per doc ``i`` (n = corpus size): a quadratic arm
    ``((i mod n)² + 1) mod n`` (residue collisions vary in-degree), a
    permutation arm ``(i · 31 + 7) mod n`` (keeps every node
    reachable), and a hub arm ``i mod max(n/50, 1)`` (the first ~2 %
    of ids collect ~50 in-links each — the power-law head a real link
    graph has).

    Id bound (the bit-identical cross-engine contract): the quadratic
    arm reduces ``i`` mod n BEFORE squaring, so it stays exact int64
    for any ids as long as the corpus COUNT n ≤ ~3.04e9 ((n-1)² <
    2^63); past that, Spark would wrap silently while DuckDB raises on
    BIGINT overflow, so the twin contract breaks — a 128-bit modmul
    would be needed in both engines.  The permutation arm's ``i·31``
    is exact for ids up to ~2.97e17.  Self-loops are dropped by :func:`pagerank`.  At
    sf0.01 the resulting ranks span ~100× min-to-max with hundreds of
    distinct values, so the PageRank gate is actually discriminating
    (a permutation-only graph yields the uniform vector — a vacuous
    gate).  ``n`` rides a broadcast scalar subquery, never a driver
    round-trip."""
    cnt = docs.groupBy().agg(F.count(F.lit(1)).alias("n"))
    base = docs.select(F.col("doc_id").alias("src")).crossJoin(
        F.broadcast(cnt)
    )
    arms = [
        base.select(
            "src",
            (
                ((F.col("src") % F.col("n")) * (F.col("src") % F.col("n")) + 1)
                % F.col("n")
            ).alias("dst"),
        ),
        base.select(
            "src", ((F.col("src") * 31 + 7) % F.col("n")).alias("dst")
        ),
        base.select(
            "src",
            (
                F.col("src")
                % F.greatest(F.expr("n div 50"), F.lit(1).cast("long"))
            ).alias("dst"),
        ),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.union(a)
    return out
