"""Advanced warehouse + training-pipeline query shapes, round 2:
Gopher-style quality gating, market-basket co-occurrence, funnel
conversion, time-series gap interpolation, snapshot upsert (MERGE
shape), sketch aggregates with bound-check oracles, systematic
sampling, and point-in-time (as-of) snapshots.

Cross-engine determinism follows registry.py's conventions; sketch
queries (HLL, quantile summaries) emit the EXACT value plus a boolean
asserting the sketch landed within its error bound — the oracle emits
the exact value and literal TRUE, so the hash comparison proves the
bound held without requiring the engines' sketches to agree bit-wise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..operators.joins import basket_pairs, salted_join
from ..registry import query

# ---------------------------------------------------------------- quality


@query(
    "gopher_quality_flags",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t,
             length(regexp_replace(lower(trim(text)), '\\s+', '', 'g')) AS n_ch
      FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS n_tokens,
             n_ch / greatest(len(t), 1) AS mwl
      FROM toks
    ), bg AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
          ELSE [] END) AS bg
      FROM toks
    ), per AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2
    ), stats AS (
      SELECT doc_id, MAX(c) AS maxc, SUM(c) AS total FROM per GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INT) AS n_tokens,
           ROUND(b.mwl, 6) AS mean_word_len,
           ROUND(COALESCE(s.maxc / s.total, 0.0), 6) AS max_bigram_frac,
           (b.n_tokens >= 5 AND b.n_tokens <= 10000
            AND b.mwl >= 2 AND b.mwl <= 12
            AND COALESCE(s.maxc / s.total, 0.0) <= 0.2) AS quality_pass
    FROM base b LEFT JOIN stats s USING (doc_id)
    """,
    tags=("text", "quality", "gopher"),
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/shape quality gate (Rae et al. 2021
    §A1.1 class of signals): token count, mean word length, and the
    fraction of the document covered by its most frequent bigram
    (repetition signal), combined into a pass flag.

    ONE map-only scan — no explode, no exchange, no join (r14; the
    old shape paid a (doc_id, bigram) exchange, a second per-doc
    aggregate, AND a join back onto a second evaluation of the
    tokenize projection). A document's bigram multiset fits in one
    array, so the repetition signal is computed in-row: max bigram
    count == longest equal-run of the sorted per-doc bigram-hash
    array. At 100 TB this is the canonical embarrassingly-parallel
    quality sweep before dedup, now literally so.

    Tokenize-once discipline: ``__toks`` is projected a single time
    and every downstream expression (size, char count, bigram
    transform) references that column. Because the column is
    referenced more than once, Catalyst's CollapseProject will not
    re-inline the regex split into the lambda — the round-2 version
    embedded ``split(...)`` inside the transform and re-evaluated it
    per bigram index, O(len²) per document. Bigrams are xxhash64'd
    before sorting so the array holds 8-byte longs, not strings
    (only counts survive to the output, so hashing is semantics-free
    modulo ~2⁻⁶⁴ collisions). The plan lives in
    operators/text.py::gopher_quality (with the equal-run fold and
    the exact maxc/total equivalence argument) so the scale probe can
    run it on replicated corpora."""
    from ..operators.text import gopher_quality

    return gopher_quality(
        Catalog(spark, sf_dir).documents, id_col="doc_id", text_col="text"
    )


# ------------------------------------------------------------ market basket


@query(
    "cooccurrence_part_pairs",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 100
    """,
    tags=("join", "self_join", "basket"),
)
def cooccurrence_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top part pairs bought in the same
    order, with per-order C(items_per_order, 2) ≈ 21 pairs/order
    fan-out. The pair generation is operators/joins.py::basket_pairs —
    one collect_set aggregate on orderkey plus a map-side array
    expansion (ONE exchange; the r14 rewrite of the
    distinct → self-join shape, which paid three — proven
    row-multiset-identical in tests). The pair count is map-side
    combinable and the top-100 is a TakeOrdered (no global sort
    materialization). TPC-H orders are skew-free (≤7 items), so this
    plan stays unsalted; for skewed mega-order baskets use
    ``cooccurrence_part_pairs_salted`` below — same oracle, hot-key
    pair generation spread across salt buckets."""
    li = Catalog(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey")
    pairs = basket_pairs(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        out=("part_a", "part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(100)
    )


@query(
    "cooccurrence_part_pairs_salted",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 100
    """,
    tags=("join", "self_join", "basket", "skew"),
)
def cooccurrence_part_pairs_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew-hardened basket co-occurrence: semantically identical to
    ``cooccurrence_part_pairs`` (same DuckDB oracle), but the self-join
    runs through ``operators.joins.salted_join`` with 8 salt buckets.

    A mega-order with k distinct parts emits C(k, 2) pairs; unsalted,
    all of them are generated by the ONE task owning that orderkey.
    Salting the probe side spreads the hot order's pair generation
    across 8 tasks (each bucket holds 1/8 of the probe rows but sees
    the full replicated build rows for that order). Replication cost
    is bounded: the build side is 2 int columns, ×8. Task-histogram
    flattening is measured in SCALING.md §skew (the basket
    self-join rows)."""
    li = (
        Catalog(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.toDF("l_orderkey", "part_a")
    b = li.toDF("l_orderkey", "part_b")
    paired = salted_join(a, b, on=["l_orderkey"], salt_buckets=8)
    return (
        paired.filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(100)
    )


# ----------------------------------------------------------------- funnel


@query(
    "funnel_view_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), conv AS (
      SELECT v.user_id, MIN(p.ts) AS first_purchase
      FROM v JOIN events p
        ON p.user_id = v.user_id
       AND p.event_type = 'purchase' AND p.ts > v.first_view
      GROUP BY v.user_id
    )
    SELECT v.user_id, CAST(v.first_view AS DATE) AS first_view_day,
           (conv.user_id IS NOT NULL) AS converted
    FROM v LEFT JOIN conv USING (user_id)
    """,
    tags=("funnel", "events"),
)
def funnel_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel (view → later purchase) per user: the ordered-
    event-sequence shape behind conversion analytics. Two grouped MINs
    and one range-predicated join, all shuffling on user_id — one
    partitioning reused across every step (no re-shuffle between
    stages at scale)."""
    ev = Catalog(spark, sf_dir).events
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        v.join(p, on="user_id")
        .filter(F.col("pts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("first_purchase"))
    )
    return v.join(conv, on="user_id", how="left").select(
        "user_id",
        F.col("first_view").cast("date").alias("first_view_day"),
        F.col("first_purchase").isNotNull().alias("converted"),
    )


# ------------------------------------------------------- gap interpolation


@query(
    "gap_fill_interpolate",
    oracle="""
    WITH known AS (
      SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 4) AS v
      FROM events
      WHERE event_type = 'purchase' AND user_id % 50 = 0
      GROUP BY 1
    ), bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ), joined AS (
      SELECT s.day, k.v FROM spine s LEFT JOIN known k USING (day)
    ), ctx AS (
      SELECT day, v,
        last_value(v IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(v IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT day, (v IS NOT NULL) AS observed,
      ROUND(CASE
        WHEN v IS NOT NULL THEN v
        WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
          pv + (nv - pv) * (day - pd) / (nd - pd)
        ELSE COALESCE(pv, nv) END, 6) AS value_interp
    FROM ctx
    """,
    tags=("timeseries", "interpolate"),
)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with LINEAR interpolation between the
    nearest observed days (nearest-value fill at the edges) — the
    resample/interpolate step of feature pipelines, entirely in window
    functions (last/first IGNORE NULLS), no UDFs.

    The demo series is one global spine (≤ a few hundred rows after
    the daily aggregate, so the single-partition window is fine); the
    at-scale form adds the series key to every PARTITION BY and the
    spine is sequence() per key — same expressions, keyed windows."""
    ev = Catalog(spark, sf_dir).events
    known = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 50 == 0))
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("v"))
    )
    bounds = ev.select(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    joined = spine.join(known, on="day", how="left")
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    day_if_known = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = joined.select(
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(day_if_known, ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(day_if_known, ignorenulls=True).over(wn).alias("nd"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff("day", "pd")
            / F.datediff("nd", "pd"),
        )
        .otherwise(F.coalesce("pv", "nv"))
    )
    return ctx.select(
        "day",
        F.col("v").isNotNull().alias("observed"),
        F.round(interp, 6).alias("value_interp"),
    )


# ------------------------------------------------------------ upsert/MERGE


@query(
    "upsert_latest_snapshot",
    oracle="""
    WITH base AS (
      SELECT user_id, value, CAST(ts AS DATE) AS as_of
      FROM (
        SELECT user_id, value, ts, ROW_NUMBER() OVER
          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
      ) WHERE rn = 1
    ), upd AS (
      SELECT user_id, value, CAST(ts AS DATE) AS as_of
      FROM (
        SELECT user_id, value, ts, ROW_NUMBER() OVER
          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
          AND event_type = 'purchase'
      ) WHERE rn = 1
    )
    SELECT COALESCE(b.user_id, u.user_id) AS user_id,
           ROUND(COALESCE(u.value, b.value), 4) AS value,
           COALESCE(u.as_of, b.as_of) AS as_of,
           (u.user_id IS NOT NULL) AS updated
    FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id
    """,
    tags=("merge", "upsert"),
)
def upsert_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert shape without a table format: a per-key snapshot
    (latest event before Jan 16) full-outer-joined with an update
    batch (latest later purchase); updates win via COALESCE. Both
    sides shuffle once on the merge key — at scale, bucketing the
    snapshot by user_id makes the recurring merge co-located, which
    is exactly what Delta/Iceberg MERGE does under the hood."""
    ev = Catalog(spark, sf_dir).events
    d = F.col("ts").cast("date")

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "value", d.alias("as_of"))
        )

    base = latest(ev.filter(d < F.lit("2024-01-16").cast("date")))
    upd = latest(
        ev.filter(
            (d >= F.lit("2024-01-16").cast("date"))
            & (F.col("event_type") == "purchase")
        )
    )
    b = base.toDF("user_id", "b_value", "b_as_of")
    u = upd.toDF("u_user_id", "u_value", "u_as_of")
    return b.join(
        u, b.user_id == u.u_user_id, how="full_outer"
    ).select(
        F.coalesce("user_id", "u_user_id").alias("user_id"),
        F.round(F.coalesce("u_value", "b_value"), 4).alias("value"),
        F.coalesce("u_as_of", "b_as_of").alias("as_of"),
        F.col("u_user_id").isNotNull().alias("updated"),
    )


# ----------------------------------------------- incremental join view (IVM)


@query(
    "incremental_join_view_delta",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey AS custkey,
           ROUND(o.o_totalprice, 2) AS total_price,
           c.c_mktsegment AS segment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE (o.o_orderkey % 7 = 0) OR (c.c_custkey % 5 = 0)
    """,
    tags=("incremental", "ivm", "join"),
)
def incremental_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized JOIN-view maintenance as a plan — the delta
    algebra from operators/incremental.py::join_view_delta:

        ΔV = ΔO ⋈ C_old  ∪  O_old ⋈ ΔC  ∪  ΔO ⋈ ΔC

    Orders with ``o_orderkey % 7 = 0`` stand for the new order batch,
    customers with ``c_custkey % 5 = 0`` for the new customer batch;
    the complements are the maintained state. The three terms cover
    new output pairs disjointly (new-left, new-right, new-both), so
    the union is UNION ALL — no dedup shuffle — and equals exactly
    the full join restricted to pairs touching either batch (the
    oracle). At 100 TB the history side of each term is a
    zone-map-pruned ``read_range`` of the versioned state (see
    update_incremental_join + tests/test_incremental.py): per-batch
    cost O(Δ ⋈ touched-history), never O(A ⋈ B)."""
    from ..operators.incremental import join_view_delta

    cat = Catalog(spark, sf_dir)
    o = cat.orders.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
    )
    c = cat.customer.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    delta_o = o.filter(F.col("o_orderkey") % 7 == 0)
    o_old = o.filter(F.col("o_orderkey") % 7 != 0)
    delta_c = c.filter(F.col("custkey") % 5 == 0)
    c_old = c.filter(F.col("custkey") % 5 != 0)
    return join_view_delta(delta_o, delta_c, o_old, c_old, on="custkey").select(
        "o_orderkey", "custkey", "total_price", "segment"
    )


# ------------------------------------------------------- sketch aggregates


@query(
    "audience_overlap_hll",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(v) AS BIGINT) AS exact_view,
           CAST(SUM(p) AS BIGINT) AS exact_purchase,
           CAST(SUM(v * p) AS BIGINT) AS exact_overlap,
           TRUE AS overlap_ok
    FROM per_user
    """,
    tags=("sketch", "hll", "overlap"),
)
def audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap (viewers ∩ purchasers) by HLL
    inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A ∪ B), where
    the union estimate comes from MERGING the two stored sketches
    (``hll_union``) — never re-scanning raw ids. Emits the exact
    cardinalities plus overlap_ok = the sketch overlap landing within
    5% of (|A|+|B|); the oracle emits literal TRUE, so the hash gate
    certifies the bound (the approx_distinct_bounded pattern).

    At 100 TB this is how segment-overlap matrices are built: one
    sketch per segment (kilobytes, map-side combinable), any pairwise
    overlap from sketch algebra — O(segments²) tiny merges instead of
    O(segments²) id-set intersections. Inclusion–exclusion error
    compounds the three estimates' errors, so the certified bound is
    on the SUM of the set sizes, not the (possibly tiny) overlap —
    the honest contract for sketch differencing."""
    ev = Catalog(spark, sf_dir).events
    sk = ev.agg(
        F.expr(
            "hll_sketch_agg(user_id) FILTER (WHERE event_type = 'view')"
        ).alias("sk_v"),
        F.expr(
            "hll_sketch_agg(user_id) FILTER (WHERE event_type = 'purchase')"
        ).alias("sk_p"),
    ).select(
        F.expr("hll_sketch_estimate(sk_v)").alias("est_v"),
        F.expr("hll_sketch_estimate(sk_p)").alias("est_p"),
        F.expr("hll_sketch_estimate(hll_union(sk_v, sk_p))").alias("est_u"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("v"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("p"),
    )
    exact = per_user.agg(
        F.sum("v").alias("exact_view"),
        F.sum("p").alias("exact_purchase"),
        F.sum(F.col("v") * F.col("p")).alias("exact_overlap"),
    )
    est_overlap = (
        F.col("est_v").cast("double")
        + F.col("est_p").cast("double")
        - F.col("est_u").cast("double")
    )
    return exact.crossJoin(F.broadcast(sk)).select(
        "exact_view",
        "exact_purchase",
        "exact_overlap",
        (
            F.abs(est_overlap - F.col("exact_overlap"))
            <= 0.05 * (F.col("exact_view") + F.col("exact_purchase"))
        ).alias("overlap_ok"),
    )


@query(
    "approx_distinct_bounded",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
    tags=("sketch", "hll"),
)
def approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ count-distinct with its error bound ASSERTED in-query:
    emits the exact distinct count plus approx_ok = |approx−exact| ≤
    5%·exact. The oracle emits literal TRUE, so the hash gate proves
    the sketch landed in-bound without demanding bit-equal sketches
    across engines. HLL registers merge by max → the approx value is
    partition-order independent (deterministic under AQE re-plans).

    At 100 TB the sketch IS the point: one map-side-combinable pass,
    no distinct shuffle of raw user_ids per group."""
    ev = Catalog(spark, sf_dir).events
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02).cast("double")
                - F.count_distinct("user_id")
            )
            <= 0.05 * F.count_distinct("user_id")
        ).alias("approx_ok"),
    )


@query(
    "percentile_sketch_bounded",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("sketch", "quantile"),
)
def percentile_sketch_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-summary sketch with asserted bound: exact interpolated
    median per group (4 dp — finer than the avg-of-two-cents 3 dp
    granularity, so no rounding ties) plus approx_ok = the
    percentile_approx(accuracy=10000) estimate within 1% of exact.
    Same bound-check-oracle pattern as approx_distinct_bounded: the
    sketch path (mergeable summaries, no global sort) is the 100 TB
    plan; the exact path exists to certify it."""
    li = Catalog(spark, sf_dir).lineitem
    exact = F.expr("percentile(l_extendedprice, 0.5)")
    approx = F.expr("percentile_approx(l_extendedprice, 0.5, 10000)")
    return li.groupBy("l_returnflag").agg(
        F.round(exact, 4).alias("exact_median"),
        (F.abs(approx - exact) <= 0.01 * exact).alias("approx_ok"),
    )


# -------------------------------------------------------------- sampling


@query(
    "systematic_sample_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_sampled,
           ROUND(AVG(o_totalprice), 6) AS avg_price
    FROM orders WHERE o_orderkey % 97 = 0
    GROUP BY o_orderpriority
    """,
    tags=("sampling", "systematic"),
)
def systematic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every-kth-key) sampling: a pure map-side filter on
    the key — reproducible, join-stable (the same keys are sampled in
    every table that shares them), and free of the global sort a
    row_number()-based systematic sample would need. The per-stratum
    aggregate shows sampling composes with downstream group-bys."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
    )


# ------------------------------------------------------------ as-of snapshot


@query(
    "asof_snapshot_users",
    oracle="""
    SELECT user_id, event_type, ROUND(value, 4) AS value,
           CAST(ts AS DATE) AS as_of_day
    FROM (
      SELECT *, ROW_NUMBER() OVER
        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    ) WHERE rn = 1
    """,
    tags=("asof", "snapshot", "scd2"),
)
def asof_snapshot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time snapshot: each user's state as of a cutoff — the
    read side of SCD-2 (event_validity_intervals builds the write
    side). The cutoff filter pushes to the scan (ts is a natural
    partition column at scale), then one window shuffle on user_id."""
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.filter(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.col("ts").cast("date").alias("as_of_day"),
        )
    )


# ------------------------------------------------------------- skew salting


@query(
    "salted_join_skew",
    oracle="""
    WITH dim AS (
      SELECT l_returnflag, ROUND(AVG(l_discount), 6) AS flag_avg_disc
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag, d.flag_avg_disc,
           COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - d.flag_avg_disc)
                              AS DECIMAL(30,8))), 4) AS DOUBLE)
             AS adj_revenue
    FROM lineitem l JOIN dim d USING (l_returnflag)
    GROUP BY 1, 2
    """,
    tags=("join", "skew", "salted"),
)
def salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact→dim join, end-to-end: lineitem joined to a
    per-returnflag dimension THROUGH operators.joins.salted_join
    (8 salt buckets) — l_returnflag has 3 values with one holding
    ~50% of rows, the canonical hot-key shape. The oracle runs the
    UNSALTED join, so the driver's hash comparison proves salting is
    semantics-free, not just plausible.

    Scale: with a dimension this small Catalyst broadcasts and skew
    is moot; the salted plan is the one you deploy when the build
    side is too big to broadcast and one key exceeds a task even
    after AQE skew-split. SCALING.md §skew records the actual
    per-task flattening with broadcast disabled."""
    li = Catalog(spark, sf_dir).lineitem.select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    dim = li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_discount"), 6).alias("flag_avg_disc")
    )
    joined = salted_join(li, dim, on=["l_returnflag"], salt_buckets=8)
    return joined.groupBy("l_returnflag", "flag_avg_disc").agg(
        F.count(F.lit(1)).alias("n_rows"),
        # decimal money sum (sf1 lesson, see core._yearly_flag_revenue):
        # double sums over millions of rows drift past the 4th decimal
        # between engines; the per-row double product cast to decimal
        # makes the aggregate exact and order-free
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("flag_avg_disc")))
                .cast("decimal(30,8)")
            ),
            4,
        )
        .cast("double")
        .alias("adj_revenue"),
    )


# ------------------------------------------------------- duplicate n-grams


@query(
    "dup_ngram_fraction",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
               THEN list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               ELSE [] END AS grams
      FROM t
    )
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
           ROUND(CASE WHEN len(grams) > 0
             THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
             ELSE 0.0 END, 6) AS dup_frac
    FROM g
    """,
    tags=("text", "quality", "gopher", "dedup"),
)
def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: fraction of 3-gram occurrences that
    are repeats (Gopher / Rae et al. 2021 §A1.1 duplicate-n-gram
    class; the fixture text has no newlines, so n-grams stand in for
    the duplicate-line metrics). Entirely map-side — size() and
    array_distinct() on the per-row gram array, no explode, no
    shuffle: the 100 TB plan is a pure scan→project, embarrassingly
    parallel. Tokenize-once via a single ``__grams`` projection
    (multiple references block CollapseProject re-inlining)."""
    from ..operators.text import tokens

    docs = Catalog(spark, sf_dir).documents
    toks = docs.select("doc_id", tokens("text").alias("__toks"))
    grams = toks.select(
        "doc_id",
        F.when(
            F.size("__toks") >= 3,
            F.expr(
                "transform(sequence(0, size(__toks) - 3),"
                " i -> concat_ws(' ', slice(__toks, i + 1, 3)))"
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("__grams"),
    )
    n_g = F.size("__grams")
    n_d = F.size(F.array_distinct("__grams"))
    return grams.select(
        "doc_id",
        n_g.cast("int").alias("n_grams"),
        n_d.cast("int").alias("n_distinct"),
        F.round(
            F.when(n_g > 0, 1.0 - n_d.cast("double") / n_g).otherwise(0.0), 6
        ).alias("dup_frac"),
    )


@query(
    "association_rules_topk",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM li),
    item AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS supp FROM li GROUP BY 1
    ),
    pair AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(COUNT(*) AS BIGINT) AS supp_ab
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    rules AS (
        SELECT pa AS ante, pb AS cons, supp_ab FROM pair
        UNION ALL
        SELECT pb AS ante, pa AS cons, supp_ab FROM pair
    ),
    scored AS (
        SELECT r.ante, r.cons, r.supp_ab,
               CAST(r.supp_ab AS DOUBLE) / CAST(ia.supp AS DOUBLE)
                 AS confidence,
               (CAST(n.n AS DOUBLE) * CAST(r.supp_ab AS DOUBLE))
                 / CAST(ia.supp * ic.supp AS DOUBLE) AS lift
        FROM rules r
        JOIN item ia ON r.ante = ia.l_partkey
        JOIN item ic ON r.cons = ic.l_partkey
        CROSS JOIN n
        WHERE r.supp_ab >= 2
    )
    SELECT ante, cons, supp_ab, confidence, lift
    FROM scored
    ORDER BY lift DESC, confidence DESC, ante, cons
    LIMIT 20
    """,
    tags=("join", "self_join", "basket", "rules"),
)
def association_rules_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (the
    support/confidence/lift triple of Agrawal-Srikant Apriori at
    depth 2): every co-occurring part pair yields both directed rules
    ante→cons, scored by confidence = supp(ab)/supp(ante) and lift =
    N·supp(ab)/(supp(ante)·supp(cons)), minimum pair support 2,
    top-20 by (lift, confidence, ante, cons).

    Engine-exactness: supports are integer counts, confidence/lift
    are single divisions of exact-int-valued doubles (the supp_a·
    supp_b product stays integer until the one cast) — identical bits
    both engines, so the ordered top-20 cut is value-exact with the
    explicit 4-key tie-break.

    Scale shape: the pair generation is cooccurrence_part_pairs'
    bounded self-join (distinct-per-order first, ≤C(7,2) pairs per
    TPC-H order, one orderkey-co-partitioned shuffle); item supports
    are a map-side-combinable aggregate reused for BOTH rule
    directions via two broadcast-joinable dimension attaches; the
    1-row basket count is the allow-listed scalar broadcast; top-20
    is TakeOrdered. Nothing scales worse than the pair count."""
    from .. import cache

    li = (
        Catalog(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
    )
    li = cache.track(li)
    n = li.select(F.count_distinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    a = li.toDF("l_orderkey", "pa")
    b = li.toDF("l_orderkey", "pb")
    pair = (
        a.join(b, on="l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= 2)
    )
    # both rule directions in ONE pass over the pair aggregate: the
    # previous union of two projections embedded the basket self-join
    # subtree twice, and Catalyst does not dedupe shared union
    # branches — the whole pair pipeline executed twice per action
    # (r14; same multiset of rows, explode order is irrelevant to the
    # ordered top-20)
    rules = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("ante"), F.col("pb").alias("cons")
                ),
                F.struct(
                    F.col("pb").alias("ante"), F.col("pa").alias("cons")
                ),
            )
        ).alias("__r"),
        "supp_ab",
    ).select("__r.ante", "__r.cons", "supp_ab")
    ia = item.toDF("ante", "supp_a")
    ic = item.toDF("cons", "supp_c")
    return (
        rules.join(F.broadcast(ia), on="ante")
        .join(F.broadcast(ic), on="cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            "supp_ab",
            (
                F.col("supp_ab").cast("double")
                / F.col("supp_a").cast("double")
            ).alias("confidence"),
            (
                (F.col("n").cast("double") * F.col("supp_ab").cast("double"))
                / (F.col("supp_a") * F.col("supp_c")).cast("double")
            ).alias("lift"),
        )
        .orderBy(
            F.desc("lift"), F.desc("confidence"), F.asc("ante"), F.asc("cons")
        )
        .limit(20)
    )


def _hot_baskets(li: DataFrame) -> DataFrame:
    """The orderkeys of ``li`` (distinct (order, item) rows) holding
    more than 64 items: the hot set of the salted basket self-joins."""
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 64)
        .select("l_orderkey")
    )


@query(
    "association_rules_topk_salted",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM li),
    item AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS supp FROM li GROUP BY 1
    ),
    pair AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(COUNT(*) AS BIGINT) AS supp_ab
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    rules AS (
        SELECT pa AS ante, pb AS cons, supp_ab FROM pair
        UNION ALL
        SELECT pb AS ante, pa AS cons, supp_ab FROM pair
    ),
    scored AS (
        SELECT r.ante, r.cons, r.supp_ab,
               CAST(r.supp_ab AS DOUBLE) / CAST(ia.supp AS DOUBLE)
                 AS confidence,
               (CAST(n.n AS DOUBLE) * CAST(r.supp_ab AS DOUBLE))
                 / CAST(ia.supp * ic.supp AS DOUBLE) AS lift
        FROM rules r
        JOIN item ia ON r.ante = ia.l_partkey
        JOIN item ic ON r.cons = ic.l_partkey
        CROSS JOIN n
        WHERE r.supp_ab >= 2
    )
    SELECT ante, cons, supp_ab, confidence, lift
    FROM scored
    ORDER BY lift DESC, confidence DESC, ante, cons
    LIMIT 20
    """,
    tags=("join", "self_join", "basket", "rules", "skew"),
)
def association_rules_topk_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``association_rules_topk`` with the pair-generating basket
    self-join routed through operators/joins.py::salted_join's
    hot-key form x8 — the hot-basket insurance the r11 verdict asked
    to measure (ask #7): a mega-order with M distinct items emits
    C(M,2) pairs from ONE orderkey task in the unsalted plan; hot-key
    salting spreads it over 8 tasks at plan time (SCALING.md
    §itemset-miner skew has the per-task histograms at an 8M-pair
    hot basket — the same mechanics cooccurrence_part_pairs_salted
    fixed, inherited here). Hot keys only, not blanket: the hot set
    is the orders with more than 64 distinct items (one
    map-side-combinable count, broadcast), so on TPC-H's bounded
    ~7-item baskets nothing replicates and the insurance costs
    ~nothing (blanket salting x8 measured 9.1 s at sf0.1 — it ships
    the 600k-row build side x8 whether or not any key is hot — vs
    ~2.7 s unsalted; hot-only salting restores the unsalted cost
    while keeping the mega-basket flattening). Same oracle as the
    unsalted sibling: hot-only salting is result-invariant for inner
    equi-joins (cold pairs meet in bucket 0, hot pairs in the left
    row's bucket, each exactly once), so the differential
    hash-matches the two variants against ONE SQL truth."""
    from .. import cache

    li = (
        Catalog(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
    )
    li = cache.track(li)
    n = li.select(F.count_distinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    a = li.toDF("l_orderkey", "pa")
    b = li.toDF("l_orderkey", "pb")
    pair = (
        salted_join(
            a, b, on=["l_orderkey"], salt_buckets=8, hot=_hot_baskets(li)
        )
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= 2)
    )
    # single-pass rule-direction fan-out — see association_rules_topk
    # (the union formulation executed the salted self-join twice)
    rules = pair.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("ante"), F.col("pb").alias("cons")
                ),
                F.struct(
                    F.col("pb").alias("ante"), F.col("pa").alias("cons")
                ),
            )
        ).alias("__r"),
        "supp_ab",
    ).select("__r.ante", "__r.cons", "supp_ab")
    ia = item.toDF("ante", "supp_a")
    ic = item.toDF("cons", "supp_c")
    return (
        rules.join(F.broadcast(ia), on="ante")
        .join(F.broadcast(ic), on="cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ante",
            "cons",
            "supp_ab",
            (
                F.col("supp_ab").cast("double")
                / F.col("supp_a").cast("double")
            ).alias("confidence"),
            (
                (F.col("n").cast("double") * F.col("supp_ab").cast("double"))
                / (F.col("supp_a") * F.col("supp_c")).cast("double")
            ).alias("lift"),
        )
        .orderBy(
            F.desc("lift"), F.desc("confidence"), F.asc("ante"), F.asc("cons")
        )
        .limit(20)
    )


@query(
    "frequent_itemsets_depth3",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    t AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
               CAST(COUNT(*) AS BIGINT) AS supp
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        JOIN li c ON b.l_orderkey = c.l_orderkey
                 AND b.l_partkey < c.l_partkey
        GROUP BY 1, 2, 3
    )
    SELECT pa, pb, pc, supp
    FROM t
    WHERE supp >= 2
    ORDER BY supp DESC, pa, pb, pc
    LIMIT 20
    """,
    tags=("join", "self_join", "basket", "itemsets"),
)
def frequent_itemsets_depth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-3 frequent itemsets (the Apriori level above
    association_rules_topk's pairs): ordered part triples
    co-purchased in one order, minimum support 2, top-20 by
    (support, triple). Counts are integers, the cut's 4-key order is
    total — trivially value-exact.

    Scale shape: the triple generation chains TWO orderkey-
    co-partitioned self-joins on the distinct-per-order item table —
    with AQE both joins share the orderkey partitioning, so only the
    first Exchange moves data; fan-out is bounded by C(items_per_
    order, 3) ≈ 35 per TPC-H order (Apriori's candidate explosion is
    a per-basket combinatorial bound, not a corpus-size one). The
    final aggregate is map-side-combinable and the top-20 is
    TakeOrdered. The `_salted` sibling below is the skewed-
    mega-basket insurance."""
    return _frequent_itemsets_depth3(spark, sf_dir, salted=False)


@query(
    "frequent_itemsets_depth3_salted",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    t AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, c.l_partkey AS pc,
               CAST(COUNT(*) AS BIGINT) AS supp
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        JOIN li c ON b.l_orderkey = c.l_orderkey
                 AND b.l_partkey < c.l_partkey
        GROUP BY 1, 2, 3
    )
    SELECT pa, pb, pc, supp
    FROM t
    WHERE supp >= 2
    ORDER BY supp DESC, pa, pb, pc
    LIMIT 20
    """,
    tags=("join", "self_join", "basket", "itemsets", "skew"),
)
def frequent_itemsets_depth3_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``frequent_itemsets_depth3`` with BOTH chained orderkey
    self-joins routed through salted_join's hot-key form x8 — the depth-3
    half of the r11 hot-basket ask: salting only the first join
    re-collapses the hot key in the second (measured in SCALING.md
    §itemset-miner skew — a 384-part mega-order emits 9.4M
    triples, 83% on one task unsalted, ~21% salted both). Hot-only
    salting (orders over 64 items) keeps the TPC-H cost at the
    unsalted plan's level — no key is hot, so neither join
    replicates — and the oracle is the unsalted sibling's SQL
    verbatim, pinning result-invariance through the differential."""
    return _frequent_itemsets_depth3(spark, sf_dir, salted=True)


def _frequent_itemsets_depth3(
    spark: SparkSession, sf_dir: str, *, salted: bool
) -> DataFrame:
    """Shared body of the two depth-3 miners; ``salted`` routes both
    chained orderkey joins through salted_join x8 with one hot set."""
    li = (
        Catalog(spark, sf_dir)
        .lineitem.select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.toDF("l_orderkey", "pa")
    b = li.toDF("l_orderkey", "pb")
    c = li.toDF("l_orderkey", "pc")
    if salted:
        # hot baskets computed ONCE from the base item table: an
        # order with >64 distinct items is hot for BOTH joins (the
        # pair stage's per-key fan-out only grows from there), and
        # deriving it here avoids recomputing the pair join to find
        # the second join's hot keys
        hot = _hot_baskets(li)
        ab = salted_join(
            a, b, on=["l_orderkey"], salt_buckets=8, hot=hot
        ).filter(F.col("pa") < F.col("pb"))
        triples = salted_join(
            ab, c, on=["l_orderkey"], salt_buckets=8, hot=hot
        ).filter(F.col("pb") < F.col("pc"))
    else:
        triples = (
            a.join(b, on="l_orderkey")
            .filter(F.col("pa") < F.col("pb"))
            .join(c, on="l_orderkey")
            .filter(F.col("pb") < F.col("pc"))
        )
    return (
        triples.groupBy("pa", "pb", "pc")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
        .orderBy(F.desc("supp"), "pa", "pb", "pc")
        .limit(20)
    )
