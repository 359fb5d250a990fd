"""Graph analytics (operators/graph.py): PageRank against an
independent pure-Python integer reference, edge-case containment, and
direct Spark<->DuckDB parity for the pagerank_links pair (registered r9)."""

from __future__ import annotations

import random

from market_insights_app_spark.operators.graph import (
    pagerank,
    synthetic_link_graph,
)

GRID = 10**9


def _ref_pagerank(edges, iters=10, damping_pct=85, grid=GRID):
    """Pure-Python replica of the integer-grid iteration."""
    es = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({x for p in es for x in p})
    if not nodes:
        return {}
    out: dict[int, int] = {}
    for s, _ in es:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    tel = ((100 - damping_pct) * grid) // (100 * n)
    pr = {v: grid // n for v in nodes}
    for _ in range(iters):
        acc = {v: 0 for v in nodes}
        for a, b in es:
            acc[b] += pr[a] // out[a]
        pr = {v: tel + (damping_pct * acc[v]) // 100 for v in nodes}
    return pr


def test_pagerank_matches_reference_golden(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 1), (3, 2), (0, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_grid for r in pagerank(e, iterations=10).collect()}
    assert got == _ref_pagerank(edges)


def test_pagerank_random_graphs_match_reference(spark):
    rng = random.Random(13)
    for trial in range(3):
        n = rng.randint(5, 30)
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n, 4 * n))
            }
        )
        e = spark.createDataFrame(edges, "src long, dst long")
        iters = rng.choice([3, 7, 10])
        got = {
            r.node: r.rank_grid
            for r in pagerank(e, iterations=iters).collect()
        }
        assert got == _ref_pagerank(edges, iters=iters), (trial, n, iters)


def test_pagerank_drops_self_loops_and_parallel_edges(spark):
    # duplicates + self-loops must not change the result
    edges = [(0, 1), (1, 0)]
    noisy = edges + [(0, 1), (0, 0), (1, 1), (1, 0)]
    e = spark.createDataFrame(noisy, "src long, dst long")
    got = {r.node: r.rank_grid for r in pagerank(e, iterations=5).collect()}
    assert got == _ref_pagerank(edges, iters=5)


def test_pagerank_dangling_mass_evaporates(spark):
    # node 2 has no out-edges: totals sum below grid but stay positive
    e = spark.createDataFrame([(0, 2), (1, 2), (0, 1)], "src long, dst long")
    rows = pagerank(e, iterations=10).collect()
    got = {r.node: r.rank_grid for r in rows}
    assert got == _ref_pagerank([(0, 2), (1, 2), (0, 1)])
    assert 0 < sum(got.values()) < GRID


def test_pagerank_empty_edges(spark):
    e = spark.createDataFrame([], "src long, dst long")
    assert pagerank(e, iterations=3).collect() == []


def test_pagerank_double_column_consistent(spark):
    e = spark.createDataFrame([(0, 1), (1, 0), (2, 0)], "src long, dst long")
    for r in pagerank(e, iterations=4).collect():
        assert r.pagerank == r.rank_grid / float(GRID)


def test_synthetic_link_graph_is_skewed(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ranks = [
        r.rank_grid
        for r in pagerank(synthetic_link_graph(docs), iterations=10).collect()
    ]
    assert len(ranks) > 100
    # the hub arm concentrates rank: max far above min, many distinct
    assert max(ranks) > 10 * min(ranks)
    assert len(set(ranks)) > 50


def test_pagerank_links_parity(spark, duck):
    """Direct Spark<->DuckDB parity for the pagerank_links
    pair (registered r9) — the local twin of its driver gate."""
    from market_insights_app_spark.plans.textml import (
        TEXTML_ORACLES,
        q_pagerank_links,
    )
    from tests.conftest import SF_ORACLE
    from tests.test_oracle_parity import canon

    sdf = q_pagerank_links(spark, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(TEXTML_ORACLES["pagerank_links"])
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows) > 0
    assert canon(srows, sdf.columns) == canon(drows, dcols)
    # driver type hygiene
    for col, typ in zip(rel.columns, rel.types):
        assert str(typ) in {"BIGINT", "DOUBLE"}, (col, str(typ))


def test_pagerank_tol_converges_to_fixed_iteration_result(spark):
    """tol_grid early-stop: the converged result must equal some
    fixed-iteration run, and a zero-tolerance bound never stops before
    the ranks are stationary (integer grid ⇒ exact stationarity is
    reachable)."""
    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (3, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    stationary = {
        r.node: r.rank_grid
        for r in pagerank(e, iterations=200, tol_grid=0).collect()
    }
    # the exact fixed point: one more iteration changes nothing
    assert stationary == _ref_pagerank(edges, iters=200)
    # loose tolerance stops earlier but still matches SOME prefix run
    loose = {
        r.node: r.rank_grid
        for r in pagerank(e, iterations=50, tol_grid=10_000).collect()
    }
    assert loose in [
        _ref_pagerank(edges, iters=k) for k in range(1, 51)
    ]


def _ref_pagerank_conserving(edges, iters=10, damping_pct=85, grid=GRID):
    """Python replica of the mass-conserving (dangling-redistribution)
    integer-grid variant: each iteration adds D div n uniformly, D =
    dangling nodes' rank mass at iteration start."""
    es = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({x for p in es for x in p})
    if not nodes:
        return {}
    out: dict[int, int] = {}
    for s, _ in es:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    tel = ((100 - damping_pct) * grid) // (100 * n)
    pr = {v: grid // n for v in nodes}
    for _ in range(iters):
        d_mass = sum(pr[v] for v in nodes if v not in out)
        share = d_mass // n
        acc = {v: 0 for v in nodes}
        for a, b in es:
            acc[b] += pr[a] // out[a]
        pr = {v: tel + (damping_pct * (acc[v] + share)) // 100 for v in nodes}
    return pr


def test_pagerank_redistribute_dangling_matches_reference(spark):
    # nodes 2 and 4 are dangling; mass must be conserved (up to the
    # integer-division dust: <= n grid units per division site/iter)
    edges = [(0, 2), (1, 2), (0, 1), (3, 4), (1, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_grid
        for r in pagerank(
            e, iterations=10, redistribute_dangling=True
        ).collect()
    }
    assert got == _ref_pagerank_conserving(edges)
    total = sum(got.values())
    n = len(got)
    # conservation: within integer-floor dust of the full grid
    assert GRID - total < 100 * n * 10, total
    # and strictly more mass retained than the evaporating default
    evap = sum(
        r.rank_grid for r in pagerank(e, iterations=10).collect()
    )
    assert total > evap


def test_pagerank_redistribute_no_dangling_equals_default(spark):
    # without dangling nodes the two variants are the same fixed point
    edges = [(0, 1), (1, 2), (2, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    a = {r.node: r.rank_grid for r in pagerank(e, iterations=6).collect()}
    b = {
        r.node: r.rank_grid
        for r in pagerank(
            e, iterations=6, redistribute_dangling=True
        ).collect()
    }
    assert a == b


def test_pagerank_unpersists_edge_cache(spark, monkeypatch):
    """ADVICE r8: repeated pagerank() calls must not accumulate
    executor cache blocks.  Asserted at the MECHANISM level: every
    ``persist()`` the call makes (edge list + node set — the O(|E|)
    working set) gets a matching ``unpersist()`` before return.
    Checkpointed rank frames (2 longs/node) are localCheckpoint
    residue the ContextCleaner reclaims when the result is dropped —
    deliberately out of scope here, so this can't flake on cleaner
    timing."""
    # patch the CONCRETE class: pyspark 4 dispatches through
    # pyspark.sql.classic.dataframe.DataFrame, so patching the abstract
    # base never intercepts
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # older pyspark: single concrete class
        from pyspark.sql import DataFrame

    persisted, released = [], []
    orig_p, orig_u = DataFrame.persist, DataFrame.unpersist

    def spy_p(self, *a, **kw):
        persisted.append(id(self))
        return orig_p(self, *a, **kw)

    def spy_u(self, *a, **kw):
        released.append(id(self))
        return orig_u(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "persist", spy_p)
    monkeypatch.setattr(DataFrame, "unpersist", spy_u)
    e = spark.createDataFrame([(0, 1), (1, 0), (2, 1)], "src long, dst long")
    pagerank(e, iterations=4).collect()
    assert persisted, "expected the working-set caches to register"
    assert set(persisted) == set(released), (persisted, released)


def test_pagerank_one_lineage_cut_per_iteration(spark, monkeypatch):
    """ADVICE r9: the default lane with tol_grid set used to pay TWO
    back-to-back eager localCheckpoints per non-final iteration (the
    per-iteration cut immediately followed by the tol branch's cut) —
    a second full materialization of the rank frame for no benefit.
    Pin the exact cut count per lane: one per iteration frame, plus
    the redistribute lane's initial-frame cut."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    cuts = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **kw):
        cuts.append(id(self))
        return orig(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0), (3, 2)], "src long, dst long"
    )
    # tol_grid=-1 never triggers the early stop (delta >= 0), so every
    # lane runs its full iterations and the counts are deterministic.
    # This 5-node graph collapses to 1 partition, so the plain lane
    # runs the tiny-regime cadence (cut every 3rd iteration frame);
    # the per-iteration-ACTION lanes (tol, redistribute) stay at
    # cadence 1 — an un-cut pr would recompute its stacked chain
    # inside every delta/mass scan.
    for kwargs, iters, want in [
        (dict(), 3, 1),                 # cadence-3: no mid cut + 1 final
        (dict(), 4, 2),                 # mid cut at i+1=3, + 1 final
        (dict(tol_grid=-1), 3, 3),      # cadence-1, tol cut REUSED not extra
        (dict(redistribute_dangling=True, tol_grid=-1), 3, 4),  # + initial
    ]:
        cuts.clear()
        pagerank(e, iterations=iters, **kwargs).collect()
        assert len(cuts) == want, (kwargs, iters, len(cuts))


def test_pagerank_tiny_lane_bit_identical_all_variants(spark):
    """The r11 single-Arrow-task lane (tiny_threshold) must be
    bit-identical to the distributed lane — default, tol early-stop
    and mass-conserving variants — and to the pure-Python reference,
    over random graphs including dangling nodes."""
    rng = random.Random(29)
    for trial in range(3):
        n = rng.randint(4, 25)
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n, 3 * n))
            }
        )
        e = spark.createDataFrame(edges, "src long, dst long")
        iters = rng.choice([3, 10])
        for kw in (
            {},
            {"tol_grid": 10_000},
            {"redistribute_dangling": True},
        ):
            dist = {
                r.node: (r.rank_grid, r.pagerank)
                for r in pagerank(e, iterations=iters, **kw).collect()
            }
            tiny = {
                r.node: (r.rank_grid, r.pagerank)
                for r in pagerank(
                    e, iterations=iters, tiny_threshold=1_000, **kw
                ).collect()
            }
            assert tiny == dist, (trial, kw)
        base = {
            r.node: r.rank_grid
            for r in pagerank(
                e, iterations=iters, tiny_threshold=1_000
            ).collect()
        }
        assert base == _ref_pagerank(edges, iters=iters), trial


def test_pagerank_tiny_threshold_zero_is_off(spark):
    """tiny_threshold=0 (the default) must never reroute: the
    distributed lane's MapInPandas-free plan is preserved.  Spark
    prints the analyzed node as 'MapInPandas' (capital M) — the r11
    lowercase probe was vacuous (could never fail); assert both the
    off-plan's absence AND the on-plan's presence with the real node
    name so the guard is live in both directions."""
    from market_insights_app_spark.operators.graph import _pagerank_tiny

    edges = [(0, 1), (1, 2), (2, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    off = pagerank(e, iterations=2)
    off_plan = off._jdf.queryExecution().analyzed().toString()
    # the canary probes the tiny lane's frame BEFORE the eager
    # checkpoint pagerank() applies on its tiny exit (r12 — the cut
    # replaces the plan with a LogicalRDD scan): it proves
    # "MapInPandas" is the string Spark actually prints, so a Spark
    # upgrade renaming the node fails here rather than silently
    # re-vacuating the off-assertion below
    on_raw = _pagerank_tiny(e, 2, 85, 10**9, None, False)
    assert "MapInPandas" in on_raw._jdf.queryExecution().analyzed().toString()
    assert "MapInPandas" not in off_plan
