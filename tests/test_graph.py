"""Unit tests for operators/graph.py against pure-Python references
on hand-built graphs (the registry queries pin the cross-engine
differential; this pins the operators' math and invariants on known
topologies, including the hazards the differential graphs can't hit:
source-only nodes, sinks, and convergence termination)."""

from __future__ import annotations

import pytest

from lmo_data_catalog_spark.operators.graph import (
    pagerank,
    pagerank_converged,
    pagerank_full,
)


def py_pagerank(edges, n_iter=3, damping=0.85):
    """Reference for the no-dangling operator: node set = srcs (the
    operator's documented precondition), ranks rebuilt over the FULL
    node set each round so source-only nodes keep their teleport
    share (the r6-advice flaw was dropping them)."""
    nodes = sorted({s for s, _ in edges})
    deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    rank = {n: 1.0 for n in nodes}
    for _ in range(n_iter):
        nxt = {}
        for v in nodes:
            s = sum(rank[u] / deg[u] for u, d in edges if d == v and u in rank)
            nxt[v] = (1.0 - damping) + damping * s
        rank = nxt
    return rank


def py_pagerank_full(edges, n_iter=3, damping=0.85):
    """Reference for the dangling-aware operator: node set = src ∪ dst,
    sink mass redistributed uniformly each round."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    dangling = [n for n in nodes if deg[n] == 0]
    n = len(nodes)
    rank = {v: 1.0 for v in nodes}
    for _ in range(n_iter):
        dm = sum(rank[u] for u in dangling)
        nxt = {}
        for v in nodes:
            s = sum(rank[u] / deg[u] for u, d in edges if d == v)
            nxt[v] = (1.0 - damping) + damping * (s + dm / n)
        rank = nxt
    return rank


def sym(pairs):
    """Symmetrize an undirected edge list."""
    return [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]


@pytest.mark.parametrize(
    "pairs",
    [
        [(1, 2), (2, 3), (1, 3)],  # triangle (regular: ranks stay 1.0)
        [(0, 1), (0, 2), (0, 3)],  # star (hub accumulates rank)
        [(1, 2), (2, 3), (3, 4), (4, 5)],  # chain
        # two disjoint copies of a triangle with a tail: every node
        # must carry its twin's rank (copy k == copy 0)
        [(1, 2), (2, 3), (1, 3), (3, 4)]
        + [(a + 10, b + 10) for a, b in [(1, 2), (2, 3), (1, 3), (3, 4)]],
    ],
)
def test_pagerank_matches_reference(spark, pairs):
    edges = sym(pairs)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()}
    want = py_pagerank(edges, n_iter=3)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-12)


def test_pagerank_keeps_source_only_nodes(spark):
    """Regression (r6 advice): a→b, b→a, c→a satisfies the 'every
    node is a src' precondition, yet c (no in-edges) used to vanish
    after round one — and its teleport contribution to a with it."""
    edges = [("a", "b"), ("b", "a"), ("c", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()}
    want = py_pagerank(edges, n_iter=3)
    assert set(got) == {"a", "b", "c"}
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-12)
    # c holds exactly the teleport floor; a must see c's contribution
    assert got["c"] == pytest.approx(0.15, abs=1e-12)
    assert got["a"] > got["b"] > got["c"]


def test_pagerank_broadcast_ranks_matches_default(spark):
    """r15: broadcast_ranks=True swaps the per-round join strategy
    (O(nodes) frames broadcast, edge table never exchanged) but must
    produce the same ranks as the default plan and the reference."""
    pairs = [(1, 2), (2, 3), (3, 4), (1, 3), (2, 4)]
    edges = sym(pairs)
    df = spark.createDataFrame(edges, ["src", "dst"])
    base = {r["node"]: r["rank"] for r in pagerank(df, n_iter=3).collect()}
    bcast = {
        r["node"]: r["rank"]
        for r in pagerank(df, n_iter=3, broadcast_ranks=True).collect()
    }
    want = py_pagerank(edges, n_iter=3)
    assert set(base) == set(bcast) == set(want)
    for n in want:
        assert bcast[n] == pytest.approx(base[n], rel=1e-12)
        assert bcast[n] == pytest.approx(want[n], rel=1e-12)
    # dangling-aware variant, sink + source shape
    dedges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")]
    ddf = spark.createDataFrame(dedges, ["src", "dst"])
    dbase = {
        r["node"]: r["rank"] for r in pagerank_full(ddf, n_iter=3).collect()
    }
    dbcast = {
        r["node"]: r["rank"]
        for r in pagerank_full(
            ddf, n_iter=3, broadcast_ranks=True
        ).collect()
    }
    dwant = py_pagerank_full(dedges, n_iter=3)
    assert set(dbase) == set(dbcast) == set(dwant)
    for n in dwant:
        assert dbcast[n] == pytest.approx(dbase[n], rel=1e-12)
        assert dbcast[n] == pytest.approx(dwant[n], rel=1e-12)


def test_pagerank_regular_graph_is_stationary(spark):
    # Every node of a k-regular graph keeps rank exactly 1.0.
    edges = sym([(1, 2), (2, 3), (1, 3)])
    df = spark.createDataFrame(edges, ["src", "dst"])
    for r in pagerank(df, n_iter=5).collect():
        assert r["rank"] == pytest.approx(1.0, abs=1e-12)


def test_pagerank_total_rank_bounded(spark):
    # With no dangling nodes, total rank is conserved at n (teleport
    # replaces exactly what damping removes).
    edges = sym([(0, 1), (0, 2), (0, 3), (2, 3)])
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = [r["rank"] for r in pagerank(df, n_iter=4).collect()]
    assert sum(ranks) == pytest.approx(4.0, rel=1e-9)


@pytest.mark.parametrize(
    "edges",
    [
        [("a", "b"), ("b", "c")],  # chain into a sink
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")],  # sink + source
        [("a", "b"), ("b", "a"), ("c", "a")],  # no sinks at all
    ],
)
def test_pagerank_full_matches_reference(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"] for r in pagerank_full(df, n_iter=3).collect()
    }
    want = py_pagerank_full(edges, n_iter=3)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-12)


def test_pagerank_full_conserves_mass_with_sinks(spark):
    """The whole point of dangling redistribution: total mass stays N
    even when sinks would otherwise leak d·(sink rank) per round."""
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("d", "c")]  # c is a sink
    df = spark.createDataFrame(edges, ["src", "dst"])
    for it in (1, 3, 7):
        ranks = [r["rank"] for r in pagerank_full(df, n_iter=it).collect()]
        assert sum(ranks) == pytest.approx(4.0, rel=1e-9)


def test_pagerank_converged_reaches_fixed_point(spark):
    """Contraction is ~damping^k, so tol=1e-4 needs ~ln(1e-4)/ln(0.85)
    ≈ 57 rounds — reachable, and provably not the max_iter bailout."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")]  # d source-only
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks, rounds = pagerank_converged(df, tol=1e-4, max_iter=100)
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    assert 1 < rounds < 100  # actually iterated, actually stopped
    # exact agreement with the reference run the same number of rounds
    want = py_pagerank_full(edges, n_iter=rounds)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-10)
    # near the true fixed point: 10 more reference rounds barely move
    settled = py_pagerank_full(edges, n_iter=rounds + 10)
    assert all(abs(got[n] - settled[n]) < 1e-3 for n in settled)
    assert sum(got.values()) == pytest.approx(4.0, rel=1e-9)


def test_pagerank_converged_equals_fixed_round_run(spark):
    """Convergence mode is the SAME per-round function as
    pagerank_full: after k rounds the vectors must agree exactly. The
    L1 delta first drops below 1e-6 at round 14, so a 3-round budget
    must raise rather than return the unconverged vector."""
    edges = [("a", "b"), ("b", "c"), ("a", "c")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        pagerank_converged(df, tol=1e-6, max_iter=3)
    ranks, rounds = pagerank_converged(df, tol=1e-6, max_iter=20)
    assert rounds == 14
    fixed = {
        r["node"]: r["rank"]
        for r in pagerank_full(df, n_iter=rounds).collect()
    }
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    assert got == fixed


def test_triangle_counts_matches_bruteforce_and_canonicalizes(spark):
    """triangle_counts must agree with a driver-side brute-force
    enumeration on a fixture that exercises the danger spots: a hub
    (star center — many wedges, zero triangles unless closed), a
    clique (every orientation path), duplicate AND bidirectional
    input edges, and a self-loop (must be dropped)."""
    import itertools

    from lmo_data_catalog_spark.operators.graph import triangle_counts

    edges = [
        # K4 on 1-4
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # hub 10 with spokes (no closures except 11-12)
        (10, 11), (10, 12), (10, 13), (10, 14), (10, 15), (11, 12),
        # noise: duplicates, reversed duplicates, self-loop
        (2, 1), (1, 2), (3, 3), (4, 3),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.node, r.n_triangles, r.deg)
        for r in triangle_counts(df).collect()
    }

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    deg = {}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    tri = {}
    for x, y, z in itertools.combinations(sorted(deg), 3):
        if {(x, y), (x, z), (y, z)} <= und:
            for n in (x, y, z):
                tri[n] = tri.get(n, 0) + 1
    want = {(n, t, deg[n]) for n, t in tri.items()}
    assert got == want
    # spot pins: every K4 node is in 3 triangles with degree 3; the
    # hub closes exactly the 10-11-12 triangle; leaf spokes (13-15)
    # are in none and so are absent from the output entirely
    assert {(1, 3, 3), (2, 3, 3), (3, 3, 3), (4, 3, 3), (10, 1, 5)} <= got
    assert not {r for r in got if r[0] in (13, 14, 15)}


def test_kcore_matches_bruteforce_peel(spark):
    """kcore == a pure-Python peel on a hand-built graph: K5 (every
    node degree 4) + a tail path and a pendant triangle that must
    cascade away at k=3, with duplicate-direction noise edges."""
    from lmo_data_catalog_spark.operators.graph import kcore

    edges = [
        # K5 on 1-5 -> the 3-core (in fact 4-core)
        (1, 2), (1, 3), (1, 4), (1, 5), (2, 3),
        (2, 4), (2, 5), (3, 4), (3, 5), (4, 5),
        # tail: 5-6-7 path and a triangle 7-8-9 hanging off it —
        # every node here has degree <= 2 once peeling starts
        (5, 6), (6, 7), (7, 8), (7, 9), (8, 9),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {(r.node, r.core_degree) for r in kcore(df, k=3).collect()}
    assert got == {(1, 4), (2, 4), (3, 4), (4, 4), (5, 4)}

    # k above the max degree peels everything: empty result, converged
    assert kcore(df, k=6, max_rounds=8).count() == 0


def test_kcore_is_fixpoint_and_raises_without_convergence(spark):
    """Re-peeling the returned core changes nothing (fixpoint); a
    graph that converges exactly AT the final allowed level returns
    instead of raising (the post-loop probe — an earlier level in the
    last batch dropped edges so the batch count can't prove the
    fixpoint); a genuinely unconverged cascade still raises."""
    import pytest as _pytest

    from lmo_data_catalog_spark.operators.graph import kcore

    edges = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
    edges += [(5, 6), (6, 7), (7, 8), (7, 9), (8, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    core = kcore(df, k=3)
    nodes = {r.node for r in core.collect()}
    sub = df.filter(df.src.isin(nodes) & df.dst.isin(nodes))
    again = {(r.node, r.core_degree) for r in kcore(sub, k=3).collect()}
    assert again == {(r.node, r.core_degree) for r in core.collect()}

    # converges at level 1 (6,8,9 peel and 7 goes edge-less with
    # them): max_rounds=1 exhausts the budget mid-drop, but the probe
    # proves the fixpoint — no spurious non-convergence error
    assert kcore(df, k=3, max_rounds=1).count() == 5

    # a path peels two endpoints per level — 8 nodes need 4 levels,
    # so a 1-level budget is a REAL non-convergence and must raise
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["src", "dst"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore(path, k=2, max_rounds=1)


def _build_jobs(spark, build):
    """(Spark jobs fired while ``build()`` runs, its result)."""
    from lmo_data_catalog_spark import cache

    cache.release_all()  # no cached frame from an earlier test
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    out = build()
    return dag.nextJobId() - before, out


def test_kcore_window_peel_build_jobs(spark):
    """Plan budget: while it builds, the window peel runs only the
    jobs that store and count one checkpoint per round of up to three
    levels — no warm-up count of the input, and each count runs on the
    checkpoint's own RDD. A 20-node path at k=2 peels its two
    endpoints per level (10 live levels); the build fired 20 Spark
    jobs when the count was pinned (26 with the warm-up count and
    ``DataFrame.count()`` per round), and lower is fine."""
    from lmo_data_catalog_spark.operators.graph import kcore

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], ["src", "dst"]
    )
    jobs, core = _build_jobs(spark, lambda: kcore(path, k=2))
    assert jobs <= 20
    assert core.count() == 0


def test_kcore_input_already_at_its_core(spark):
    """K5 at k=4 is its own 4-core: nothing peels. Round 1 has no
    earlier count to compare with, so a second round proves the
    fixpoint; the build fired 10 Spark jobs when the count was pinned
    (9 with the warm-up count, which let round 1 stop the loop)."""
    from lmo_data_catalog_spark.operators.graph import kcore

    k5 = spark.createDataFrame(
        [(i, j) for i in range(1, 6) for j in range(i + 1, 6)], ["src", "dst"]
    )
    jobs, core = _build_jobs(spark, lambda: kcore(k5, k=4))
    assert jobs <= 10
    assert {(r.node, r.core_degree) for r in core.collect()} == {
        (n, 4) for n in range(1, 6)
    }


def test_kcore_hub_safe_build_jobs(spark):
    """Plan budget: the hub-safe peel counts each level's dropped set
    on its checkpoint RDD, one job fewer per level than
    ``DataFrame.count()``. The hubbed graph takes two levels (the
    leaves drop and take every hub edge with them, then the K4 drops
    nothing); the build fired 6
    Spark jobs when the count was pinned, 8 with
    ``DataFrame.count()``."""
    from lmo_data_catalog_spark.operators.graph import kcore

    hubbed = spark.createDataFrame(
        [(0, i) for i in range(1, 21)]
        + [(30, 31), (30, 32), (30, 33), (31, 32), (31, 33), (32, 33)],
        ["src", "dst"],
    )
    jobs, core = _build_jobs(spark, lambda: kcore(hubbed, k=3, hub_safe=True))
    assert jobs <= 6
    assert {r.node for r in core.collect()} == {30, 31, 32, 33}


def test_kcore_canonicalize_handles_dirty_edges(spark):
    """canonicalize=True makes duplicate, reversed, and self-loop
    edges harmless; without it the input contract (unique single
    orientation) is the caller's job — dirty input silently doubles
    degrees, which this pins by showing the two modes differ."""
    from lmo_data_catalog_spark.operators.graph import kcore

    clean = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
    dirty = clean + [(j, i) for i, j in clean[:5]] + [(3, 3)]
    df = spark.createDataFrame(dirty, ["src", "dst"])
    got = {
        (r.node, r.core_degree)
        for r in kcore(df, k=4, canonicalize=True).collect()
    }
    assert got == {(n, 4) for n in range(1, 6)}
    # sanity: the raw dirty frame would inflate degrees past 4
    raw = {r.core_degree for r in kcore(df, k=4).collect()}
    assert max(raw) > 4


def test_kcore_hub_safe_matches_window_peel(spark):
    """hub_safe=True (no node-keyed edge exchange) must be
    semantically IDENTICAL to the default window peel — exceptAll
    zero both ways on: the K5+tail graph, a hubbed star+clique graph
    (the regime the option exists for), and an everything-peels
    graph; plus the shuffled-anti-join fallback path forced via
    broadcast_drop_limit=0."""
    from lmo_data_catalog_spark.operators.graph import kcore

    k5_tail = [
        (1, 2), (1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (2, 5),
        (3, 4), (3, 5), (4, 5), (5, 6), (6, 7), (7, 8), (7, 9), (8, 9),
    ]
    # hub 0 spokes to 20 leaves (hub degree 20, leaves degree 1) plus
    # a K4 core at 30-33: at k=3 the spokes cascade and take the hub
    # with them, leaving only the K4
    hubbed = [(0, i) for i in range(1, 21)] + [
        (30, 31), (30, 32), (30, 33), (31, 32), (31, 33), (32, 33)
    ]
    path = [(i, i + 1) for i in range(1, 8)]

    for edges in (k5_tail, hubbed, path):
        df = spark.createDataFrame(edges, ["src", "dst"])
        base = kcore(df, k=3, max_rounds=12)
        for kwargs in (
            {"hub_safe": True},
            {"hub_safe": True, "broadcast_drop_limit": 0},
        ):
            got = kcore(df, k=3, max_rounds=12, **kwargs)
            assert got.exceptAll(base).count() == 0
            assert base.exceptAll(got).count() == 0

    # hubbed graph: pin the actual core too, not just equivalence
    df = spark.createDataFrame(hubbed, ["src", "dst"])
    got = {
        (r.node, r.core_degree)
        for r in kcore(df, k=3, hub_safe=True).collect()
    }
    assert got == {(30, 3), (31, 3), (32, 3), (33, 3)}


def test_kcore_hub_safe_budget_semantics(spark):
    """hub_safe honors max_rounds the same way the window peel does:
    a graph converging exactly at the budget returns; a cascade that
    needs more levels raises."""
    import pytest as _pytest

    from lmo_data_catalog_spark.operators.graph import kcore

    edges = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
    edges += [(5, 6), (6, 7), (7, 8), (7, 9), (8, 9)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert kcore(df, k=3, max_rounds=1, hub_safe=True).count() == 5

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["src", "dst"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore(path, k=2, max_rounds=1, hub_safe=True).count()
