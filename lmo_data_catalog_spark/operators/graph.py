"""Iterative graph algorithms as unrolled DataFrame plans.

Reference status: extension surface (the reference catalog,
01_source_me.R:1-346, has no graph stage). Complements
``operators/dedup.py::connected_components`` (min-label propagation +
pointer jumping): where CC iterates to convergence, PageRank runs a
FIXED number of damped power-iteration rounds, so the whole
computation stays one lazy Catalyst plan — and, because the round
count is static, the exact same computation is expressible as an
unrolled SQL CTE chain, which is what puts it under the DuckDB
differential (unusual for "iterative" algorithms).

Scale shape per round: one join of the rank vector against the edge
list (both keyed on node id — co-partitioned under bucketing) + one
keyed aggregate. No driver-side state beyond the loop counter; the
rank vector is never collected. The dangling-aware variants
checkpoint the rank vector every round (``cache.checkpoint``) to cut
lineage growth; the converging loops run through ``cache.converge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import cache


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Damped PageRank over a directed edge list, ``n_iter`` rounds.

    ``edges`` must contain every node as a ``src`` at least once
    (true by construction for symmetrized undirected graphs, where
    each undirected edge contributes both directions) — DANGLING
    nodes (no out-edges) are out of scope here; use
    :func:`pagerank_full` for directed graphs with sinks. Nodes with
    no IN-edges are fine: the rank vector is rebuilt by left-joining
    contributions onto the full node set each round, so a source-only
    node keeps its ``(1−d)`` teleport share and keeps feeding its
    out-neighbors (rebuilding from the contribution aggregate alone
    would silently drop it after round one). Returns ``(node, rank)``
    with r₀ = 1 and rₖ₊₁(v) = (1−d) + d·Σ_{u→v} rₖ(u)/deg(u),
    the classic uniform-start formulation. Float ops are ordered
    identically to the oracle CTE chain: divide per edge, sum,
    coalesce, scale, add — so cross-engine drift is limited to
    summation-order ulps, absorbed by the caller's final ROUND.

    ``broadcast_ranks=True`` (guide §3.1) is for DIMENSION-BOUNDED
    graphs — node count capped by a dimension table (the registry's
    part graphs: 20 k nodes vs 2.4 M edges at sf0.1). The per-round
    rank vector, the degree table, and each round's contribution
    aggregate are all O(nodes) rows, so broadcasting them keeps the
    edge list in its scan/persisted partitioning for EVERY round —
    no O(edges) exchange anywhere (the default plan re-shuffled the
    persisted edge table once per round for the rank sort-merge
    join). Results are unchanged (same joins, same arithmetic; the
    caller's ROUND absorbs partial-sum merge-order ulps exactly as
    before). Leave False for web-scale graphs whose rank vector
    exceeds the broadcast cap.
    """
    b = F.broadcast if broadcast_ranks else (lambda df: df)
    # Persist the RAW edge list first: ed/nodes both contain the edge
    # subtree more than once (join sides, degree agg), and Catalyst
    # does not dedupe shared subtrees — without this the possibly
    # expensive edge build (a basket self-join here) re-executes 3-4
    # times just materializing the derived caches.
    edges = cache.track(edges)
    deg = edges.groupBy(src).agg(F.count("*").alias("__deg"))
    # Edge list annotated with the source's out-degree. Every round's
    # plan references it (as does the node universe).
    ed = cache.track(edges.join(b(deg), src))
    nodes = cache.track(deg.select(F.col(src).alias("node")))
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(n_iter):
        contrib = (
            ed.join(b(ranks), ed[src] == ranks["node"])
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("__deg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = nodes.join(b(contrib), "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping)
                * F.coalesce(F.col("__s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


def _pr_graph(edges: DataFrame, src: str, dst: str, b=lambda df: df):
    """Shared prep for the dangling-aware variants: persisted
    (annotated edges, node universe, 1-row node count, dangling node
    set). The node universe is src ∪ dst — sinks included. The raw
    edge frame is persisted FIRST: ed/nodes/dangling each embed the
    edge subtree 1-2×, so without it the edge build re-executes ~5×
    while the caches materialize (measured 4.6 s → 2.6 s on the
    part→supplier registry graph)."""
    edges = cache.track(edges)
    deg = edges.groupBy(src).agg(F.count("*").alias("__deg"))
    ed = cache.track(edges.join(b(deg), src))
    nodes = cache.track(
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # 1-row broadcast frames keep the whole round lazy — no driver
    # collect of N or of the dangling mass.
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    dangling = cache.track(
        nodes.join(
            edges.select(F.col(src).alias("node")).distinct(),
            "node",
            "left_anti",
        )
    )
    return ed, nodes, nn, dangling


def _pr_round(
    ed, nodes, nn, dangling, ranks: DataFrame, damping: float, src, dst,
    b=lambda df: df,
) -> DataFrame:
    """One dangling-aware power iteration:
    rₖ₊₁(v) = (1−d) + d·(Σ_{u→v} rₖ(u)/deg(u) + Dₖ/N),
    Dₖ = Σ_{u dangling} rₖ(u). Float order pinned for the oracle CTE:
    coalesce(contrib, 0) + (dangling_mass / N), then scale, then add
    the teleport term computed as (1.0 − damping) in both engines."""
    contrib = (
        ed.join(b(ranks), ed[src] == ranks["node"])
        .select(
            F.col(dst).alias("node"),
            (F.col("rank") / F.col("__deg")).alias("__c"),
        )
        .groupBy("node")
        .agg(F.sum("__c").alias("__s"))
    )
    dmass = (
        ranks.join(b(dangling), "node", "semi")
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
    )
    return (
        nodes.join(b(contrib), "node", "left")
        .crossJoin(F.broadcast(dmass))
        .crossJoin(F.broadcast(nn))
        .select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping)
                * (
                    F.coalesce(F.col("__s"), F.lit(0.0))
                    + F.col("__dm") / F.col("__n")
                )
            ).alias("rank"),
        )
    )


def pagerank_full(
    edges: DataFrame,
    *,
    n_iter: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Dangling-aware PageRank over an arbitrary directed edge list.
    ``broadcast_ranks`` as on :func:`pagerank`: for dimension-bounded
    node sets, broadcast the O(nodes) frames (deg, rank vector,
    contribution aggregate, dangling set) so no round exchanges the
    O(edges) table.

    Unlike :func:`pagerank`, the node universe is src ∪ dst and SINK
    nodes (no out-edges) are first-class: each round their rank mass
    Dₖ is redistributed uniformly (the standard dangling-node
    treatment), so total mass stays exactly N·(1−d) + d·N = N instead
    of leaking. The dangling mass and node count ride as 1-row
    broadcast frames and the rank vector is never collected, so the
    computation is expressible as an unrolled SQL CTE chain for the
    value-exact differential (registry:
    ``pagerank_dangling_part_supplier``). Each round references the
    rank vector TWICE (contribution join + dangling-mass aggregate)
    and Catalyst duplicates shared subtrees, so an untruncated
    logical plan doubles per round — at 3 rounds the formatted plan
    carried 256 Exchange nodes and analysis/planning dominated the
    wall clock. The vector is therefore lazily checkpointed EVERY
    round (r14: 9.0 s → 1.6 s best-of-3 at sf0.1, same values):
    plan size stays linear and each round's vector is computed once;
    the values are unchanged (identical arithmetic, identical round
    structure — only the plan boundary moves).

    Scale shape per round: one keyed join + keyed aggregate (as
    :func:`pagerank`), plus a semi join against the (persisted)
    dangling set and one 1-row aggregate — O(edges) with no new
    shuffle axis."""
    b = F.broadcast if broadcast_ranks else (lambda df: df)
    ed, nodes, nn, dangling = _pr_graph(edges, src, dst, b)
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for i in range(1, n_iter + 1):
        ranks = _pr_round(
            ed, nodes, nn, dangling, ranks, damping, src, dst, b
        )
        if i < n_iter:
            ranks = cache.checkpoint(ranks)
    return ranks


def pagerank_converged(
    edges: DataFrame,
    *,
    tol: float = 1e-6,
    max_iter: int = 50,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, int]:
    """:func:`pagerank_full` iterated to an L1 fixed point: stop when
    Σ|rₖ₊₁ − rₖ| < ``tol``; raise if ``max_iter`` rounds do not get
    there. Returns ``(ranks, rounds_run)``.

    Driver-side state is one scalar per round (the L1 delta — a 1-row
    collect, which is also what materializes the round's checkpointed
    rank vector, so each round runs exactly once). The vector stays
    distributed, and :func:`cache.converge` frees each superseded
    round, so plan size and storage stay flat no matter how slowly
    the chain mixes."""
    ed, nodes, nn, dangling = _pr_graph(edges, src, dst)

    def step(ranks: DataFrame) -> tuple[DataFrame, bool]:
        nxt = cache.checkpoint(
            _pr_round(ed, nodes, nn, dangling, ranks, damping, src, dst)
        )
        delta = (
            nxt.withColumnRenamed("rank", "__r1")
            .join(ranks.withColumnRenamed("rank", "__r0"), "node")
            .agg(F.sum(F.abs(F.col("__r1") - F.col("__r0"))).alias("d"))
            .collect()[0]["d"]
        )
        return nxt, delta < tol

    return cache.converge(
        nodes.select("node", F.lit(1.0).alias("rank")),
        step,
        max_rounds=max_iter,
        what=f"pagerank_converged (tol={tol})",
    )


def triangle_counts(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected graph, via
    DEGREE-ORDERED EDGE ORIENTATION (the MapReduce triangle-listing
    plan of Suri & Vassilvitskii, WWW'11 — public algorithm).

    The naive plan — join the edge list with itself on the shared
    endpoint, then close each wedge with a third join — explodes on
    hubs: a node of degree d spawns d² wedge candidates, and real
    co-occurrence graphs are exactly the graphs with power-law hubs.
    Orienting every edge from its LOWER-degree endpoint to its higher
    (ties by id — any total order works) caps the out-degree at
    O(√m): a node with out-degree k has k neighbors of degree ≥ its
    own, so k·deg ≤ 2m — REGARDLESS of skew, the hub's d² blow-up
    becomes the hub having near-zero out-degree.

    Even the oriented wedge set is too big to MATERIALIZE as a
    shuffle, though (the sf0.1 co-occurrence graph: 1.2 M edges but
    41 M wedges — a 30× blow-up that OOMed the deliberately-small
    local heap as a wedge self-join). So the wedges are never rows:
    each node's oriented out-neighborhood is collected into a sorted
    array (bounded at O(√m) elements by the orientation — 97 here),
    both endpoint arrays are attached to every oriented edge (a, b),
    and ``array_intersect(N⁺(a), N⁺(b))`` closes all triangles
    through that edge in one vectorized expression — the classic
    edge-iterator intersection, moved JVM-side. Each triangle
    {x,y,z}, ordered x<y<z by (degree, id), appears exactly once: as
    c ∈ N⁺(a)∩N⁺(b) of its (degree,id)-lowest edge (a=x, b=y) — no
    post-hoc dedup or /3. Exploding the intersection yields only the
    actual triangles (1.9 M rows here), not the 41 M candidates.

    Input may carry duplicate or bidirectional edges; they are
    canonicalized (least, greatest) + distinct first. Self-loops are
    dropped. Returns ``(node, n_triangles, deg)`` for nodes in at
    least one triangle.

    Scale shape: canonicalize (one shuffle) → degree agg (one) →
    adjacency-array agg (one, per-group size ≤ O(√m)) → two keyed
    joins of the edge list against the adjacency table → map-side
    intersect + explode → count agg. No cartesian, no super-linear
    shuffle; per-row memory is two O(√m) arrays. The oriented frame
    is persisted: the adjacency agg and the probe side both read it
    and Catalyst does not dedupe shared subtrees.
    """
    und = cache.track(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = und.select(F.col("u").alias("node")).unionAll(
        und.select(F.col("v").alias("node"))
    ).groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    ann = (
        und.join(deg.toDF("u", "du"), "u")
        .join(deg.toDF("v", "dv"), "v")
    )
    # orient from the (degree, id)-smaller endpoint to the larger;
    # u < v always holds, so on a degree tie the canonical u→v wins
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = cache.track(
        ann.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
    )
    # oriented out-adjacency as a sorted array per node — bounded at
    # O(√m) elements by the orientation, so collect_list cannot blow
    # a group. sort_array makes the frame deterministic (collect_list
    # order is not) — required for the suite's partitioning-
    # invariance discipline even though intersect ignores order.
    adj = oriented.groupBy("a").agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    # c ∈ N⁺(a) ∩ N⁺(b) closes triangle (a, b, c); a node absent from
    # adj (out-degree 0) contributes no wedge, hence the inner joins.
    probes = (
        oriented.select("a", "b")
        .join(adj, "a")
        .join(
            adj.select(
                F.col("a").alias("b"), F.col("nbrs").alias("nbrs_b")
            ),
            "b",
        )
    )
    # One pass per probe edge: with cnt = |N⁺(a) ∩ N⁺(b)| triangles
    # closed through (a, b), node a appears in cnt of them, node b in
    # cnt, and each c ∈ intersection in exactly 1 — emit those as
    # weighted (node, w) contributions from ONE explode and sum. The
    # r14 shape unioned three projections of the tris frame instead,
    # and Catalyst does not dedupe shared subtrees: the whole
    # join+intersect+explode subtree (and the unpersisted adj
    # aggregate under it) executed 3× (adj 6×). Integer weights sum
    # to the identical per-node counts (bigint both ways); edges
    # closing no triangle are filtered exactly as the old inner
    # explode dropped them.
    w = F.size("__int").cast("bigint")
    contrib = (
        probes.select(
            "a", "b", F.array_intersect("nbrs", "nbrs_b").alias("__int")
        )
        .filter(F.size("__int") > 0)
        .select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(F.col("a").alias("node"), w.alias("w")),
                        F.struct(F.col("b").alias("node"), w.alias("w")),
                    ),
                    F.transform(
                        "__int",
                        lambda c: F.struct(
                            c.alias("node"),
                            F.lit(1).cast("bigint").alias("w"),
                        ),
                    ),
                )
            ).alias("__s")
        )
        .select("__s.node", "__s.w")
    )
    per_node = contrib.groupBy("node").agg(F.sum("w").alias("n_triangles"))
    return per_node.join(deg, "node").select("node", "n_triangles", "deg")


def kcore(
    edges: DataFrame,
    *,
    k: int = 3,
    max_rounds: int = 12,
    src: str = "src",
    dst: str = "dst",
    canonicalize: bool = False,
    hub_safe: bool = False,
    broadcast_drop_limit: int = 5_000_000,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop
    nodes whose degree in the SURVIVING subgraph is < k until a
    fixpoint; return the core's nodes with their within-core degree.

    Input contract: ``edges`` must be UNIQUE single-orientation
    undirected edges with no self-loops (each {a,b} appears exactly
    once, as either (a,b) or (b,a), never both) — duplicates,
    bidirectional pairs, or self-loops double node degrees and yield
    a wrong core. Callers that cannot guarantee this pass
    ``canonicalize=True`` to get the triangle_counts treatment
    (least/greatest orientation + distinct, self-loops dropped) at
    the cost of one extra shuffle.

    Peeling is monotone (a dropped node never returns), so the
    fixpoint is unique and extra rounds past convergence are no-ops —
    which is what makes the algorithm oracle-expressible as a FIXED
    unrolled round chain even though the engine loop stops early.
    Raises if ``max_rounds`` rounds do not reach the fixpoint, so a
    silent truncation can never masquerade as the k-core.

    Scale shape per peel level: two COUNT-over-window degrees on the
    both-directions edge frame, partitioned by u and by v (keyed on
    node id — co-partitioned under bucketing), and one filter; the
    frame is read once per level. Three levels share one checkpoint,
    counted on its own RDD as it is stored (``cache.materialize``: 1
    long to the driver), run through ``cache.converge``; round 1 reads
    the input itself, and no node or edge set is ever collected or
    counted outside a round. Cascade depth (#levels) is typically
    O(log n) for co-occurrence graphs; at 100 TB the known alternative
    to fewer-round convergence is distributed bin peeling — same
    shape, coarser levels.

    ``hub_safe=True`` (r10 verdict ask #5; SCALING §kcore-skew
    designed it, this ships it) selects the formulation with NO
    node-keyed exchange of the edge list, for power-law graphs whose
    hub would otherwise ride one task per level in both the window
    and the semi-join peel (both measured linear in hub degree —
    SCALING.md §kcore hub-skew): degrees come from a hash aggregate
    whose map-side partial combine splits the hub count across input
    partitions, and survivors are filtered by anti-joining the edge
    list against the per-level DROPPED-node set — broadcast while it
    has <= ``broadcast_drop_limit`` rows (peeling monotonicity makes
    it small after level 1), shuffled-anti-join fallback above. Cost:
    one count action per level (the window peel batches 3), so the
    default stays the window peel; semantics are identical
    (exceptAll-proven both ways in tests/test_graph.py).
    """
    if canonicalize:
        edges = (
            edges.filter(F.col(src) != F.col(dst))
            .select(
                F.least(src, dst).alias(src),
                F.greatest(src, dst).alias(dst),
            )
            .distinct()
        )
    # Both directions in ONE pass over the edge builder: a UNION of
    # two projections would execute the (often expensive) upstream
    # plan twice — Spark does not dedupe shared union branches.
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
            )
        ).alias("__e")
    ).select("__e.u", "__e.v")
    if hub_safe:
        return _kcore_hub_safe(
            und, k=k, max_rounds=max_rounds,
            broadcast_drop_limit=broadcast_drop_limit,
        )
    # Window-based peel: deg(u) and deg(v) as COUNT over partition-by
    # windows on the SAME frame (both directions are present, so the
    # v-partition count IS v's degree). Crucially this references the
    # input exactly ONCE — the r8 semi-join formulation scanned it 3×
    # (degree agg + two semi joins), so chaining L lazy levels
    # recomputed level 1 3^(L-1) times and capped the batch at 2.
    # Linear chaining lets one materialize+count cover 3 levels.
    # Alternating the two windows' order per level makes each level's
    # FIRST window start on the key the previous level's LAST window
    # ended on — WindowExec leaves the frame hash-partitioned and
    # sorted by its partition key and filter preserves both, so
    # EnsureRequirements inserts no Exchange/Sort for it: chained
    # levels cost 1 exchange each instead of 2.
    wu = Window.partitionBy("u")
    wv = Window.partitionBy("v")

    def _peel(frame: DataFrame, flip: bool = False) -> DataFrame:
        first, second = (wv, wu) if flip else (wu, wv)
        return (
            frame.withColumn("__d1", F.count(F.lit(1)).over(first))
            .withColumn("__d2", F.count(F.lit(1)).over(second))
            .filter((F.col("__d1") >= k) & (F.col("__d2") >= k))
            .select("u", "v")
        )

    # THREE peel levels per materialize+count: peeling is monotone,
    # so equal counts across a triple round mean no level dropped a
    # node — the fixpoint. Cuts the checkpoint/count actions to
    # ceil(live_rounds/3)+1 (r8 ran 2 levels/action); the engine still
    # never exceeds max_rounds levels. Once the level budget is spent,
    # ONE more round peels a single level: the last batch may have
    # reached the fixpoint exactly AT the final allowed level (an
    # earlier level dropped, the last was already converged — the
    # batch count cannot tell), and an unchanged count PROVES it
    # (monotonicity), so a converged graph never gets the spurious
    # non-convergence error. The checkpoint truncates lineage every
    # round, so plans stay one round deep. Round 1 reads ``und``
    # itself and has no earlier count to compare with, so it never
    # stops the loop: an input already at its core pays one more
    # round instead of a persist and a count of the whole edge frame.
    left, size = max_rounds, None  # peel levels still allowed

    def step(frame: DataFrame) -> tuple[DataFrame, bool]:
        nonlocal left, size
        levels = max(1, min(3, left))
        left -= levels
        nxt = frame
        for lvl in range(levels):
            nxt = _peel(nxt, flip=bool(lvl % 2))
        nxt, n = cache.materialize(nxt)
        done, size = n == size, n
        return nxt, done

    core, _ = cache.converge(
        und,
        step,
        max_rounds=-(-max_rounds // 3) + 1,
        what=f"kcore ({max_rounds} peel levels, 3 per round)",
    )
    return _core(core)


def _core(frame: DataFrame) -> DataFrame:
    """Each surviving node with its degree in the core."""
    return frame.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def _kcore_hub_safe(
    und: DataFrame, *, k: int, max_rounds: int, broadcast_drop_limit: int
) -> DataFrame:
    """kcore peel with no node-keyed edge-list exchange (see the
    ``hub_safe`` paragraph on :func:`kcore` for the design and the
    measured motivation). ``und`` is the both-directions frame.

    Per level: (1) degrees via ``groupBy(u)`` — HashAggregate's
    map-side partials split a hub's count across whatever partitions
    the edges already sit in, and only (node, partial) rows reach the
    merge exchange; (2) ``dropped`` = nodes with degree < k,
    materialized (its count IS the convergence check — 0 dropped
    means every surviving node has degree >= k, the fixpoint, so no
    separate edge count or post-loop probe is needed); (3) survivors
    by anti-joining u then v against ``dropped`` — broadcast when it
    fits (<= broadcast_drop_limit rows), a shuffled anti join
    otherwise (level 1 on a sparse graph can drop a large fraction
    of all nodes; later levels are small by monotonicity). The edge
    frame itself is never hash-partitioned by node in any stage."""
    prev_dropped = None

    def step(cur: DataFrame) -> tuple[DataFrame, bool]:
        nonlocal prev_dropped
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
        # this count ALSO materializes cur, the only lazy reader of the
        # previous level's dropped set
        dropped, n_drop = cache.materialize(
            deg.filter(F.col("__d") < k).select(F.col("u").alias("__dropped"))
        )
        cache.release(prev_dropped)
        prev_dropped = dropped
        if n_drop == 0:
            return cur, True
        right = (
            F.broadcast(dropped)
            if n_drop <= broadcast_drop_limit
            else dropped
        )
        # each level references cur twice (the anti-join pair), so
        # truncate lineage per level like the window peel does
        return cache.checkpoint(
            cur.join(right, F.col("u") == F.col("__dropped"), "left_anti")
            .join(right, F.col("v") == F.col("__dropped"), "left_anti")
        ), False

    # max_rounds anti-join levels, then one more count must find
    # nothing to drop
    core, _ = cache.converge(
        cache.track(und),
        step,
        max_rounds=max_rounds + 1,
        what=f"kcore (hub_safe, {max_rounds} peel levels)",
    )
    return _core(core)
