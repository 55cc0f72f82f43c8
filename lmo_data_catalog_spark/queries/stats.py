"""Statistical-aggregate and corpus-balance queries (round-6 breadth).

Extension surface beyond the reference catalog build
(01_source_me.R:1-346): the descriptive-statistics layer a user of the
catalog reaches for next — correlation/regression aggregates, modes,
distribution-balance metrics (entropy / KL / Gini), percentile-trimmed
corpora, weighted sampling, and interval sweep-line analytics. Every
query follows the registry conventions (identical aliases + identical
float parenthesization in both engines, ROUND at the final projection,
no raw timestamps) and is shaped for 100 TB: map-side partial
aggregation into bounded group counts, windows only over keys or over
already-aggregated (bounded-cardinality) frames, top-k via
TakeOrderedAndProject, and integer/rational arithmetic wherever a
ranking depends on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions import epoch_us
from ..registry import query
from .. import cache

# Fibonacci multiplicative hash constants (same literals as
# queries.pipeline): uniform, engine-portable pseudo-randomness from
# integer ids without relying on either engine's RNG.
_KNUTH = 2654435761
_M32 = 4294967296
# pre-multiply reduction modulus: operands reduced mod 2^31 keep the
# Knuth product under 2^31 * 2654435761 ≈ 5.7e18 < int64 max, so the
# hash can never overflow at ANY scale factor. An unreduced key
# overflows int64 once it passes ~3.5e9 (≈ sf500 orderkeys) — Spark
# would wrap silently while DuckDB errors, breaking engine parity.
_M31 = 2147483648


# ------------------------------------------------- correlation / regression


@query(
    "corr_regression_price_quantity",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
           ROUND(covar_samp(l_extendedprice, l_quantity), 6) AS covar_pq,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("analytic", "statistics"),
)
def corr_regression_price_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group correlation + least-squares fit as pure aggregates.

    Spark's corr/covar/regr_* family are single-pass co-moment
    aggregates (Welford-style partial states merged across partitions)
    — a distributed OLS fit with NO shuffle beyond the 3-group
    hash aggregate, no ML library, no collect. The classic
    "regression needs a driver-side solver" trap is avoided: for
    simple linear regression the sufficient statistics ARE the
    aggregate state. Verified cross-engine to 6 dp against DuckDB's
    implementations of the same SQL-standard aggregates.
    """
    li = Catalog(spark, sf_dir).lineitem
    p, q = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.corr(p, q), 6).alias("corr_pq"),
            F.round(F.covar_samp(p, q), 6).alias("covar_pq"),
            F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 6).alias(
                "slope"
            ),
            F.round(
                F.expr("regr_intercept(l_extendedprice, l_quantity)"), 6
            ).alias("intercept"),
            F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias(
                "r2"
            ),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------------------- deterministic mode


@query(
    "mode_order_priority_by_status",
    oracle="""
    WITH counts AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
    ),
    ranked AS (
        SELECT o_orderstatus, o_orderpriority, cnt,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY cnt DESC, o_orderpriority
               ) AS rn
        FROM counts
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           cnt AS mode_count
    FROM ranked WHERE rn = 1
    ORDER BY o_orderstatus
    """,
    tags=("analytic", "statistics"),
)
def mode_order_priority_by_status(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic per-group mode (most frequent value, ties broken
    by value order) — NOT the engines' ``mode()`` aggregate, whose tie
    choice is implementation-defined and would flake the differential.
    Aggregate first (bounded status×priority cardinality), then a
    window over the tiny counts frame: the expensive pass is the
    map-side combined count; the mode pick costs nothing at any scale.
    """
    orders = Catalog(spark, sf_dir).orders
    counts = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("cnt").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------- corpus balance: entropy / KL


@query(
    "lang_entropy_by_source",
    oracle="""
    WITH counts AS (
        SELECT source, lang, COUNT(*) AS c
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT source, SUM(c) AS t FROM counts GROUP BY source)
    SELECT counts.source,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           ROUND(-SUM((CAST(c AS DOUBLE) / t) * LN(CAST(c AS DOUBLE) / t)),
                 6) AS entropy_nats
    FROM counts JOIN tot ON counts.source = tot.source
    GROUP BY counts.source
    ORDER BY counts.source
    """,
    tags=("llm", "corpus-balance"),
)
def lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's language distribution —
    the corpus-balance diagnostic before mixture reweighting. Two
    bounded aggregations (source×lang, then source) and one join on
    the tiny per-source totals; the raw table is touched exactly once.
    Float expression parenthesized identically in both engines (the
    PMI convention, shapes.py:521) so doubles match before ROUND.
    """
    docs = Catalog(spark, sf_dir).documents
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    tot = counts.groupBy("source").agg(F.sum("c").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    return (
        counts.join(tot, "source")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
        )
        .orderBy("source")
    )


@query(
    "lang_kl_by_source",
    oracle="""
    WITH counts AS (
        SELECT source, lang, COUNT(*) AS c
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT source, SUM(c) AS t FROM counts GROUP BY source),
    corpus AS (SELECT lang, SUM(c) AS cl FROM counts GROUP BY lang),
    alltot AS (SELECT SUM(c) AS ta FROM counts)
    SELECT counts.source,
           ROUND(SUM((CAST(c AS DOUBLE) / t)
                     * LN((CAST(c AS DOUBLE) / t)
                          / (CAST(cl AS DOUBLE) / ta))), 6) AS kl_nats
    FROM counts
    JOIN tot ON counts.source = tot.source
    JOIN corpus ON counts.lang = corpus.lang
    CROSS JOIN alltot
    GROUP BY counts.source
    ORDER BY counts.source
    """,
    tags=("llm", "corpus-balance"),
)
def lang_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence (nats) of each source's language mix against the
    corpus-wide mix — how unrepresentative each source is; drives
    per-source mixture corrections. Same bounded-aggregate shape as
    the entropy query plus a broadcast of the 1-row corpus total.
    KL is finite by construction here: every (source, lang) cell
    contributes to the corpus marginal, so q > 0 wherever p > 0.
    """
    docs = Catalog(spark, sf_dir).documents
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    tot = counts.groupBy("source").agg(F.sum("c").alias("t"))
    corpus = counts.groupBy("lang").agg(F.sum("c").alias("cl"))
    alltot = counts.agg(F.sum("c").alias("ta"))
    p = F.col("c").cast("double") / F.col("t")
    q = F.col("cl").cast("double") / F.col("ta")
    return (
        counts.join(tot, "source")
        .join(corpus, "lang")
        .join(F.broadcast(alltot))
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"))
        .orderBy("source")
    )


# ------------------------------------------------------------ Gini balance


@query(
    "gini_source_balance",
    oracle="""
    WITH counts AS (
        SELECT source, COUNT(*) AS c FROM documents GROUP BY source
    ),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c, source) AS i FROM counts
    )
    SELECT COUNT(*) AS n_sources,
           CAST(SUM(c) AS BIGINT) AS total_docs,
           ROUND(CAST(2 * SUM(i * c) - (COUNT(*) + 1) * SUM(c) AS DOUBLE)
                 / (COUNT(*) * SUM(c)), 6) AS gini
    FROM ranked
    """,
    tags=("llm", "corpus-balance"),
)
def gini_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-source document-count distribution
    (0 = perfectly balanced corpus, →1 = one source dominates), via
    the rank formula G = (2·Σi·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ) on counts
    sorted ascending. Everything left of the division is INTEGER —
    the only float op is one division, so the value is bit-identical
    cross-engine regardless of summation order. The unpartitioned
    window runs over the per-source counts (bounded cardinality, a
    few rows), never over the raw table.
    """
    docs = Catalog(spark, sf_dir).documents
    counts = docs.groupBy("source").agg(F.count("*").alias("c"))
    w = Window.orderBy("c", "source")
    ranked = counts.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count("*").alias("n_sources"),
        F.sum("c").alias("total_docs"),
        F.round(
            (
                2 * F.sum(F.col("i") * F.col("c"))
                - (F.count("*") + 1) * F.sum("c")
            ).cast("double")
            / (F.count("*") * F.sum("c")),
            6,
        ).alias("gini"),
    )


# ------------------------------------------------------- weighted sampling


#: engine-portable uniform in (0, 1) from the doc id (Fibonacci
#: hash); the id is reduced mod 2^31 BEFORE the Knuth multiply so the
#: product stays within int64 at any corpus size (the bootstrap_mean_ci
#: overflow class — Spark wraps silently, DuckDB errors).
_U_SQL = (
    f"(CAST((((doc_id % {_M31}) * {_KNUTH}) % {_M32}) + 1 AS DOUBLE)"
    f" / {_M32 + 1}.0)"
)


@query(
    "weighted_sample_docs",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           ROUND(LN({_U_SQL}) / CAST(n_chars AS DOUBLE), 6) AS sample_key
    FROM documents
    ORDER BY LN({_U_SQL}) / CAST(n_chars AS DOUBLE) DESC, doc_id
    LIMIT 100
    """,
    tags=("llm", "sampling"),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample without replacement (Efraimidis-
    Spirakis A-ES): key = ln(u)/w with w = n_chars, keep the top-k
    keys — longer documents are proportionally likelier, exactly the
    quality/length-weighted corpus sampling step of a training-data
    build. u comes from the Fibonacci hash of the id (the
    stratified_sample_langs convention), so the "random" draw is
    reproducible across engines, runs, and partitionings. The global
    top-k compiles to TakeOrderedAndProject: each partition keeps its
    local 100, the driver merges — no global sort, no shuffle of the
    losers, at any corpus size.
    """
    docs = Catalog(spark, sf_dir).documents
    u = ((((F.col("doc_id") % _M31) * _KNUTH) % _M32) + 1).cast(
        "double"
    ) / (_M32 + 1)
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(key, 6).alias("sample_key"),
            key.alias("__k"),
        )
        .orderBy(F.col("__k").desc(), "doc_id")
        .limit(100)
        .drop("__k")
    )


# ------------------------------------------------------- per-source capping


@query(
    "source_cap_docs",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           COUNT(*) AS total_docs,
           CAST(SUM(CASE WHEN rn <= 300 THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN rn <= 300 THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm", "sampling"),
)
def source_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (CCNet-style over-representation
    control): keep at most 300 docs per source in deterministic
    hash order, report kept/total per source. The hash order makes
    the kept set a uniform sample of the source, reproducible across
    engines. Scale note: a bare PARTITION BY source window makes the
    hottest source one task's sort — so the plan pre-prunes with a
    per-(source, input-partition) rank first, which is map-side
    (spark_partition_id is a partition-local column), keeping at most
    cap rows per source per partition before the keyed shuffle. The
    global rank then runs on ≤ cap × n_partitions rows per source,
    bounded regardless of source skew; kept/total counts come from
    the pre-pruned and raw frames respectively.
    """
    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "source", "n_chars"
    )
    cap = 300
    hash_ord = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    # Map-side pre-prune: any row ranked > cap within its own input
    # partition cannot be in the source's global top-cap.
    wl = Window.partitionBy("source", F.spark_partition_id()).orderBy(
        *hash_ord
    )
    local = (
        docs.withColumn("__lrn", F.row_number().over(wl))
        .filter(F.col("__lrn") <= cap)
        .drop("__lrn")
    )
    wg = Window.partitionBy("source").orderBy(*hash_ord)
    kept = (
        local.withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") <= cap)
        .groupBy("source")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )
    totals = docs.groupBy("source").agg(F.count("*").alias("total_docs"))
    return (
        totals.join(kept, "source")
        .select("source", "total_docs", "kept_docs", "kept_chars")
        .orderBy("source")
    )


# ------------------------------------------- percentile-trimmed corpus stats


@query(
    "doclen_trim_percentile",
    oracle="""
    WITH bounds AS (
        SELECT lang,
               quantile_cont(n_chars, 0.05) AS p05,
               quantile_cont(n_chars, 0.95) AS p95
        FROM documents GROUP BY lang
    )
    SELECT d.lang,
           COUNT(*) AS kept_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_kept_chars,
           ROUND(MIN(p05), 6) AS p05,
           ROUND(MIN(p95), 6) AS p95
    FROM documents d JOIN bounds b ON d.lang = b.lang
    WHERE n_chars >= p05 AND n_chars <= p95
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    tags=("llm", "quality"),
)
def doclen_trim_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-percentile corpus trim: drop each language's shortest
    and longest 5% of documents (the heavy-tail cleanup before token
    budgeting) and report the surviving distribution. Exact
    ``percentile`` (linear interpolation — same definition as
    DuckDB's quantile_cont, verified to 6 dp) over each language,
    then a broadcast of the tiny per-lang bounds back onto the scan.
    Scale note: exact percentile buffers each group's values — fine
    for bounded-domain ints like n_chars, but at 100 TB swap in
    approx_percentile(…, 1e-4) or the bounded-domain exact variant
    (group by (lang, n_chars) counts + cumulative window, which
    shuffles only the distinct-value histogram, not the corpus).
    """
    docs = Catalog(spark, sf_dir).documents
    bounds = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    return (
        docs.join(F.broadcast(bounds), "lang")
        .filter(
            (F.col("n_chars") >= F.col("p05"))
            & (F.col("n_chars") <= F.col("p95"))
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.round(F.avg(F.col("n_chars").cast("double")), 6).alias(
                "avg_kept_chars"
            ),
            F.round(F.min("p05"), 6).alias("p05"),
            F.round(F.min("p95"), 6).alias("p95"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------- time-weighted averages


@query(
    "time_weighted_avg_value",
    oracle="""
    WITH stepped AS (
        SELECT user_id, value,
               LEAD(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) - epoch_us(ts) AS dur
        FROM events
    )
    SELECT user_id,
           ROUND(SUM(value * CAST(dur AS DOUBLE))
                 / CAST(SUM(dur) AS DOUBLE), 6) AS twa_value,
           COUNT(*) AS n_segments
    FROM stepped
    WHERE dur IS NOT NULL AND dur > 0
    GROUP BY user_id
    ORDER BY twa_value DESC, user_id
    LIMIT 25
    """,
    tags=("timeseries", "analytic"),
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a step series per user: each event's
    value holds until the next event, so TWA = Σ(valueᵢ·durᵢ)/Σdurᵢ —
    the correct average for irregularly-sampled state (plain AVG
    over-weights bursts). One keyed LEAD window + one keyed
    aggregate; durations are integer microseconds (epoch_us both
    engines), so only the final weighted mean is float. Top-25 via
    TakeOrderedAndProject. Zero-duration segments (same-timestamp
    events) carry no time weight and are excluded in both engines.
    """
    ev = Catalog(spark, sf_dir).events
    t = epoch_us("ts")
    w = Window.partitionBy("user_id").orderBy(t.asc(), F.col("event_id"))
    stepped = ev.select(
        "user_id",
        "value",
        (F.lead(t).over(w) - t).alias("dur"),
    )
    return (
        stepped.filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dur").cast("double"))
                / F.sum("dur").cast("double"),
                6,
            ).alias("twa_value"),
            F.count("*").alias("n_segments"),
        )
        .orderBy(F.col("twa_value").desc(), "user_id")
        .limit(25)
    )


# --------------------------------------------- exact exponential decay


@query(
    "time_decay_user_value",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(value AS DOUBLE) AS value,
               CAST(epoch_us(ts) // CAST(86400000000 AS BIGINT)
                    AS BIGINT) AS day
        FROM events
    ),
    m AS (SELECT MAX(day) AS maxd FROM e),
    d AS (
        SELECT user_id,
               value * CAST(
                   CAST(1 AS BIGINT)
                   << CAST(30 - LEAST(maxd - day, 30) AS INT)
                   AS DOUBLE) AS dv
        FROM e CROSS JOIN m
    )
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(dv AS DECIMAL(38,8))) AS DOUBLE)
                 / 1073741824.0, 6) + 0.0 AS decayed_value
    FROM d GROUP BY user_id ORDER BY user_id
    """,
    tags=("timeseries", "decay", "analytic"),
)
def time_decay_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-user value (half-life = 1 day,
    floor at 30 days): the recency-weighted engagement score behind
    freshness-aware sampling and user-activity ranking.

    The decay weight is engineered to be EXACT cross-engine: age is
    integer days, the weight is the integer ``2^(30 - min(age, 30))``
    (a bit shift, never ``pow`` — libm powers differ between
    engines), and ``value * 2^k`` is a pure exponent shift, exact in
    IEEE double. The per-user sum runs as DECIMAL(38,8) (order-free,
    the money-sum policy), so no float summation order can leak; the
    single divide by 2^30 and ROUND happen on identical values.
    Scale shape: one 1-row corpus-max broadcast + one map-side
    combined hash aggregate — linear, no window, no sort."""
    cat = Catalog(spark, sf_dir)
    e = cat.events.select(
        "user_id", F.col("value").cast("double").alias("value"),
        epoch_us("ts").alias("t"),
    ).select(
        "user_id", "value",
        F.expr("t div 86400000000").cast("bigint").alias("day"),
    )
    m = e.agg(F.max("day").alias("maxd"))
    d = e.crossJoin(F.broadcast(m)).select(
        "user_id",
        (
            F.col("value")
            * F.expr(
                "cast(shiftleft(cast(1 as bigint),"
                " cast(30 - least(maxd - day, 30) as int)) as double)"
            )
        ).alias("dv"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.round(
                    F.sum(F.col("dv").cast("decimal(38,8)")).cast("double")
                    / F.lit(1073741824.0),
                    6,
                )
                + F.lit(0.0)
            ).alias("decayed_value"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------ interval sweep-line stats


@query(
    "max_concurrent_intervals",
    oracle="""
    WITH pts AS (
        SELECT user_id, epoch_us(ts) AS t, 1 AS delta FROM events
        UNION ALL
        SELECT user_id, epoch_us(ts) + 1800000000 AS t, -1 AS delta
        FROM events
    ),
    swept AS (
        SELECT user_id,
               SUM(delta) OVER (
                   PARTITION BY user_id ORDER BY t, delta
               ) AS conc
        FROM pts
    ),
    per_user AS (
        SELECT user_id, CAST(MAX(conc) AS BIGINT) AS max_conc
        FROM swept GROUP BY user_id
    )
    SELECT max_conc, COUNT(*) AS n_users
    FROM per_user
    GROUP BY max_conc
    ORDER BY max_conc
    """,
    tags=("timeseries", "analytic"),
)
def max_concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line maximum concurrency: treat each event as a 30-minute
    activity interval and find, per user, the peak number of
    simultaneously-open intervals — then histogram users by that
    peak (concurrent-session analysis without an O(n²) self-join).
    Classic +1/−1 boundary-point trick: union starts and ends, one
    keyed running sum, one max. All arithmetic is integer
    microseconds. Ordering (t, delta) closes intervals before opening
    new ones at the same instant (half-open [t, t+30 min)
    semantics); the default RANGE window frame aggregates tied peers
    identically in both engines. Scales as two keyed shuffles on
    user_id — the sweep never leaves the key's partition.
    """
    ev = Catalog(spark, sf_dir).events
    t = epoch_us("ts")
    starts = ev.select(
        "user_id", t.alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "user_id",
        (t + 1800000000).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends)
    w = Window.partitionBy("user_id").orderBy("t", "delta")
    swept = pts.withColumn("conc", F.sum("delta").over(w))
    per_user = swept.groupBy("user_id").agg(F.max("conc").alias("max_conc"))
    return (
        per_user.groupBy("max_conc")
        .agg(F.count("*").alias("n_users"))
        .orderBy("max_conc")
    )


# ------------------------------------------------------ graph: PageRank


@query(
    "pagerank_part_cooccurrence",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
    r1 AS (
        SELECT e.dst AS node,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * SUM(r.rank / deg.d) AS rank
        FROM edges e JOIN deg ON e.src = deg.src
        JOIN r0 r ON r.node = e.src
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT e.dst AS node,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * SUM(r.rank / deg.d) AS rank
        FROM edges e JOIN deg ON e.src = deg.src
        JOIN r1 r ON r.node = e.src
        GROUP BY e.dst
    ),
    r3 AS (
        SELECT e.dst AS node,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE) * SUM(r.rank / deg.d) AS rank
        FROM edges e JOIN deg ON e.src = deg.src
        JOIN r2 r ON r.node = e.src
        GROUP BY e.dst
    )
    SELECT node AS p_partkey, ROUND(rank, 6) AS pagerank
    FROM r3
    ORDER BY p_partkey
    """,
    tags=("graph", "iterative"),
)
def pagerank_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-occurrence graph (parts are linked
    when bought in the same order), 3 damped power-iteration rounds —
    item centrality for recommendation-style ranking. Because the
    round count is FIXED, the "iterative" algorithm is one lazy plan
    AND expressible as an unrolled CTE chain, putting a graph
    iteration under the value-exact differential (most iterative ops
    get only the rows-only check). Per round: one keyed join + one
    keyed aggregate (operators/graph.py::pagerank); the basket
    self-join that builds the edges is the bounded-fanout
    cooccurrence shape. Teleport constant written as
    (1.0 − 0.85) in BOTH engines so the doubles agree bit-for-bit.
    """
    from ..operators.graph import pagerank
    from ..operators.joins import basket_pairs

    li = Catalog(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey")
    # one-exchange pair generation (basket_pairs, r14), distinct on the
    # u<v half only, then both directions in one explode pass — the
    # directed edge SET is identical to the old
    # distinct → self-join → src≠dst → distinct chain (oracle-pinned).
    und = (
        basket_pairs(li, basket_col="l_orderkey", item_col="l_partkey")
        .select("u", "v")
        .distinct()
    )
    edges = und.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
                F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    # broadcast_ranks: the node set is dimension-bounded (part keys —
    # 20 k at sf0.1, never more than the part table), so the rank
    # vector/degree/contribution frames broadcast and the 2.4 M-row
    # edge table is never exchanged in any round (guide §3.1).
    ranks = pagerank(edges, n_iter=3, damping=0.85, broadcast_ranks=True)
    return ranks.select(
        F.col("node").alias("p_partkey"),
        F.round("rank", 6).alias("pagerank"),
    ).orderBy("p_partkey")


@query(
    "mutual_info_flag_status",
    oracle="""
    WITH joint AS (
        SELECT l_returnflag AS f, l_linestatus AS s, COUNT(*) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(c) AS n FROM joint),
    mf AS (SELECT f, SUM(c) AS cf FROM joint GROUP BY f),
    ms AS (SELECT s, SUM(c) AS cs FROM joint GROUP BY s)
    SELECT (SELECT CAST(n AS BIGINT) FROM tot) AS n_rows,
           ROUND((SELECT SUM((CAST(cf AS DOUBLE) / n)
                             * -ln(CAST(cf AS DOUBLE) / n))
                  FROM mf, tot), 6) AS h_flag,
           ROUND((SELECT SUM((CAST(cs AS DOUBLE) / n)
                             * -ln(CAST(cs AS DOUBLE) / n))
                  FROM ms, tot), 6) AS h_status,
           ROUND((SELECT SUM((CAST(c AS DOUBLE) / n)
                             * ln((CAST(c AS DOUBLE) * n)
                                  / (CAST(cf AS DOUBLE) * cs)))
                  FROM joint
                  JOIN mf USING (f) JOIN ms USING (s), tot), 6)
           AS mi_nats
    """,
    tags=("analytic", "statistics", "information"),
)
def mutual_info_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between return flag and line status,
    with both marginal entropies — "how much does one categorical tell
    you about the other", the information-theoretic sibling of the
    chi-square independence test (chi2_priority_status_independence).

    One hash aggregate builds the joint contingency table (|F|×|S| =
    6 cells); everything after is arithmetic over that tiny frame —
    marginals re-aggregated FROM the joint counts (never a second
    scan), totals as 1-row broadcast-joined frames. At 100 TB the
    plan is still exactly one map-side-combined shuffle of the fact
    table; the information arithmetic never touches more than |F|·|S|
    rows. Float parity: both engines evaluate (c/n)·ln((c·n)/(cf·cs))
    per cell with the same cast-then-divide order; the 6-term sum is
    summation-order safe at ROUND(6) and every log argument is a
    ratio of exact integer counts (doubles are exact up to 2⁵³)."""
    li = Catalog(spark, sf_dir).lineitem
    joint = cache.track(
        li.groupBy(
            F.col("l_returnflag").alias("f"),
            F.col("l_linestatus").alias("s"),
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    tot = joint.agg(F.sum("c").alias("n"))
    mf = joint.groupBy("f").agg(F.sum("c").alias("cf"))
    ms = joint.groupBy("s").agg(F.sum("c").alias("cs"))
    cd = F.col("c").cast("double")
    cfd = F.col("cf").cast("double")
    csd = F.col("cs").cast("double")
    nd = F.col("n")
    mi = (
        joint.join(mf, "f")
        .join(ms, "s")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum((cd / nd) * F.log((cd * nd) / (cfd * csd))), 6
            ).alias("mi_nats")
        )
    )
    hf = (
        mf.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((cfd / nd) * -F.log(cfd / nd)), 6).alias("h_flag")
        )
    )
    hs = (
        ms.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum((csd / nd) * -F.log(csd / nd)), 6).alias(
                "h_status"
            )
        )
    )
    return (
        tot.select(F.col("n").alias("n_rows"))
        .crossJoin(F.broadcast(hf))
        .crossJoin(F.broadcast(hs))
        .crossJoin(F.broadcast(mi))
    )


@query(
    "spearman_price_quantity",
    oracle="""
    WITH r AS (
        SELECT l_extendedprice AS p, l_quantity AS q,
               RANK() OVER (ORDER BY l_extendedprice)
                 + (COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0
                 AS rp,
               RANK() OVER (ORDER BY l_quantity)
                 + (COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0
                 AS rq
        FROM lineitem
    )
    SELECT COUNT(*) AS n_rows,
           ROUND(corr(p, q), 6) + 0.0 AS pearson,
           ROUND(corr(rp, rq), 6) + 0.0 AS spearman
    FROM r
    """,
    tags=("analytic", "statistics", "rank"),
)
def spearman_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of price vs quantity — the
    monotone-association companion to Pearson
    (corr_regression_price_quantity), robust to the price column's
    heavy tail. Spearman = Pearson on the AVERAGE ranks (ties get the
    mean of their positional ranks, the textbook treatment).

    The scale story is the ranking, not the correlation: the oracle's
    ``RANK() OVER (ORDER BY …)`` is a single-task global sort — the
    plan that dies first on a big table. The engine side computes the
    identical positional ranks with the quantile-bucketed two-phase
    ranker (operators/windows.py::global_row_numbers — both orderings
    share ONE quantile job and ONE grouping-sets bucket count), then
    averages positions within each tied value via a keyed window
    (PARTITION BY value — no global sort; the worst skew is a hot
    value's tie group, e.g. l_quantity's 50 distinct values, which is
    an AQE-splittable keyed aggregate shape, not a single-task
    funnel). Average ranks are exact in double (integer sums / small
    k), so cross-engine agreement reduces to the corr aggregate —
    pinned to 6 dp like the Pearson query; ``+ 0.0`` normalizes a
    potential IEEE −0.0 from rounding a near-zero correlation."""
    from ..operators.windows import global_row_numbers

    li = Catalog(spark, sf_dir).lineitem.select(
        F.col("l_extendedprice").alias("p"),
        F.col("l_quantity").alias("q"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked = global_row_numbers(
        li,
        [("p", True, "__rp0"), ("q", True, "__rq0")],
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    )
    rp = F.avg("__rp0").over(Window.partitionBy("p"))
    rq = F.avg("__rq0").over(Window.partitionBy("q"))
    withranks = ranked.select("p", "q", rp.alias("rp"), rq.alias("rq"))
    return withranks.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.round(F.corr("p", "q"), 6) + F.lit(0.0)).alias("pearson"),
        (F.round(F.corr("rp", "rq"), 6) + F.lit(0.0)).alias("spearman"),
    )


@query(
    "triangle_clustering_parts",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_quantity >= 25
    ),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
        ) GROUP BY node
    ),
    t AS (
        SELECT a.u AS x, a.v AS y, b.v AS z
        FROM e a JOIN e b ON a.v = b.u
        JOIN e c ON c.u = a.u AND c.v = b.v
    ),
    pn AS (
        SELECT node, COUNT(*) AS n_triangles FROM (
            SELECT x AS node FROM t
            UNION ALL SELECT y AS node FROM t
            UNION ALL SELECT z AS node FROM t
        ) GROUP BY node
    )
    SELECT pn.node AS p_partkey, pn.n_triangles, deg.deg AS degree,
           ROUND(CAST(2.0 AS DOUBLE) * pn.n_triangles
                 / (deg.deg * (deg.deg - 1)), 6) AS clustering_coeff
    FROM pn JOIN deg ON pn.node = deg.node
    ORDER BY p_partkey
    """,
    tags=("graph", "triangles"),
)
def triangle_clustering_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts + local clustering coefficient over
    the basket co-occurrence graph (parts linked when bought in the
    same order) — "how clique-ish is this item's neighborhood", the
    community-structure primitive behind recommendation diversity
    and link-spam scoring. The graph is restricted to HIGH-QUANTITY
    line items (l_quantity ≥ 25 — bulk co-purchases), which keeps the
    basket self-join edge set ~4× smaller while every axis down to
    sf0.001 still has thousands of triangles.

    Engine side runs operators/graph.py::triangle_counts — the
    degree-ORIENTED wedge join (out-degree capped at O(√m), so hub
    skew cannot explode the wedge stage). The oracle enumerates the
    same triangles by plain id order (a.v = b.u closing join):
    orientation changes WHICH join produces a triangle, never the
    triangle set, so the two plans cross-check each other. The
    coefficient 2·T/(deg·(deg−1)) divides exact small integers in
    double with identical op order in both engines; ROUND(6) absorbs
    nothing — it is exact — but keeps the column contract uniform."""
    from ..operators.graph import triangle_counts
    from ..operators.joins import basket_pairs

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_partkey")
    )
    # one-exchange pair generation (basket_pairs, r14) — identical row
    # multiset to the old distinct → self-join → u<v chain;
    # triangle_counts canonicalizes + dedups cross-order repeats.
    edges = basket_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey"
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    out = triangle_counts(edges)
    return (
        out.select(
            F.col("node").alias("p_partkey"),
            "n_triangles",
            F.col("deg").alias("degree"),
            F.round(
                F.lit(2.0)
                * F.col("n_triangles")
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("p_partkey")
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled iterative-peeling oracle: ``rounds`` materialized CTE
    rounds of (degree filter ≥ k → edge semi-restriction). Peeling is
    monotone, so rounds past the fixpoint are no-ops and a FIXED
    unrolled chain computes the same k-core the engine's converging
    loop does (the engine raises if it would need more rounds than
    the oracle unrolls — operators/graph.py::kcore max_rounds).
    MATERIALIZED per round: a lazily inlined chain re-expands every
    previous round per reference and blows up DuckDB's planner (the
    round-7 recursive-CTE lesson)."""
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""
    n{i} AS MATERIALIZED (
        SELECT u FROM {prev} GROUP BY u HAVING COUNT(*) >= {k}
    ),
    d{i} AS MATERIALIZED (
        SELECT d.u, d.v FROM {prev} d
        JOIN n{i} a ON d.u = a.u JOIN n{i} b ON d.v = b.u
    )"""
        )
        prev = f"d{i}"
    chain = ",".join(steps)
    return f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_quantity >= 25
    ),
    e AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    d0 AS MATERIALIZED (
        SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ),{chain}
    SELECT u AS node, COUNT(*) AS core_degree
    FROM {prev} GROUP BY u ORDER BY node
    """


@query(
    "kcore_parts_graph",
    oracle=_kcore_oracle_sql(k=18, rounds=12),
    tags=("graph", "kcore", "iterative"),
)
def kcore_parts_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """18-core of the bulk co-purchase part graph (same edge set as
    triangle_clustering_parts): the maximal subgraph where every part
    still co-occurs with ≥ 18 other parts AFTER its weakly-connected
    neighbors are peeled away — the standard "dense nucleus"
    extraction behind community seeding and spam-farm detection,
    strictly stronger than a raw degree filter (peeling cascades:
    dropping one node can demote its neighbors below k).

    Engine side is operators/graph.py::kcore — a window peel (two
    COUNT-over-window degrees + one filter per level, one read of the
    frame) run through cache.converge: three levels per lazily
    checkpointed round, with a 1-long COUNT action as the convergence
    probe; raises past max_rounds rather than silently truncating.
    The oracle unrolls the same peeling as a fixed 12-round
    materialized CTE chain — monotonicity makes the fixed chain and
    the early-stopping loop agree exactly (4–6 live levels at these
    scales). Output is exact integers (node id,
    within-core degree): no float surface at all."""
    from ..operators.graph import kcore
    from ..operators.joins import basket_pairs

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_partkey")
    )
    # one-exchange pair generation (basket_pairs, r14) + cross-order
    # dedup — the same u<v edge set the old distinct → self-join built.
    edges = (
        basket_pairs(li, basket_col="l_orderkey", item_col="l_partkey")
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    return kcore(edges, k=18, max_rounds=12).orderBy("node")


@query(
    "kcore_parts_graph_hubsafe",
    oracle=_kcore_oracle_sql(k=18, rounds=12),
    tags=("graph", "kcore", "iterative", "skew"),
)
def kcore_parts_graph_hubsafe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``kcore_parts_graph`` through the hub-safe peel
    (operators/graph.py::kcore ``hub_safe=True``, r10 verdict ask #5)
    — identical output by the same unrolled oracle, different
    physical shape: degrees via map-side-partial hash aggregate and
    survivor filtering via anti-join against the broadcast per-level
    DROPPED set, so NO stage hash-partitions the edge list by node.
    The formulation for power-law hubs: measured flat (~10 s) from 4M
    to 16M hub edges while the default window peel grows linearly
    (SCALING.md §kcore hub-safe fallback). On this
    unskewed co-purchase graph it pays one count action per level vs
    the window peel's one per three — both registered so the
    differential pins BOTH formulations against the same oracle."""
    from ..operators.graph import kcore
    from ..operators.joins import basket_pairs

    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_quantity") >= 25)
        .select("l_orderkey", "l_partkey")
    )
    # same basket_pairs edge build as kcore_parts_graph (r14): the
    # hub-safe property under test is the PEEL's shape, not the edge
    # build's, and basket_pairs' one exchange is keyed on orderkey —
    # never on node — so the no-node-keyed-edge-exchange claim holds.
    edges = (
        basket_pairs(li, basket_col="l_orderkey", item_col="l_partkey")
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    return kcore(
        edges, k=18, max_rounds=12, hub_safe=True
    ).orderBy("node")


def _pr_dangling_round(i: int) -> str:
    """One unrolled round of dangling-aware PageRank as CTE text —
    float order pinned to operators/graph.py::_pr_round: divide per
    edge, SUM, COALESCE, + dangling_mass/N, scale by 0.85, add the
    teleport term written as a (1.0 − 0.85) subtraction in both
    engines (bare DuckDB literals type as DECIMAL — hence the CASTs).
    """
    prev = f"r{i - 1}"
    return f"""
    c{i} AS (
        SELECT e.dst AS node, SUM(r.rank / deg.d) AS s
        FROM edges e JOIN deg ON e.src = deg.src
        JOIN {prev} r ON r.node = e.src
        GROUP BY e.dst
    ),
    d{i} AS (
        SELECT COALESCE(SUM(r.rank), CAST(0.0 AS DOUBLE)) AS dm
        FROM {prev} r JOIN dang ON r.node = dang.node
    ),
    r{i} AS (
        SELECT n2.node,
               (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
               + CAST(0.85 AS DOUBLE)
               * (COALESCE(c{i}.s, CAST(0.0 AS DOUBLE)) + d{i}.dm / nn.n)
               AS rank
        FROM nodes n2
        LEFT JOIN c{i} ON n2.node = c{i}.node
        CROSS JOIN d{i} CROSS JOIN nn
    )"""


@query(
    "pagerank_dangling_part_supplier",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT CAST(l_partkey AS BIGINT) * 2 AS src,
                        CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
        FROM lineitem
    ),
    nodes AS (
        SELECT src AS node FROM edges
        UNION
        SELECT dst AS node FROM edges
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    dang AS (
        SELECT n.node FROM nodes n
        LEFT JOIN (SELECT DISTINCT src FROM edges) s ON n.node = s.src
        WHERE s.src IS NULL
    ),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
    {",".join(_pr_dangling_round(i) for i in (1, 2, 3))}
    SELECT node, ROUND(rank, 6) AS pagerank
    FROM r3
    ORDER BY node
    """,
    tags=("graph", "iterative", "dangling"),
)
def pagerank_dangling_part_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PageRank over the DIRECTED part→supplier graph (a part points
    at each supplier shipping it) — a graph where every supplier is a
    SINK (no out-edges) and every part is source-only (no in-edges),
    exercising both hazards the symmetric co-occurrence query cannot:
    dangling mass is redistributed uniformly each round
    (operators/graph.py::pagerank_full) and source-only nodes keep
    their teleport share instead of vanishing after round one.
    Integer namespacing (partkey·2 even / suppkey·2+1 odd) keeps the
    two key spaces disjoint while the per-round joins stay on BIGINT
    keys — measured ~25% faster than string ids ('p…'/'s…') at sf0.1. Fixed 3 rounds → still one lazy plan AND an
    unrolled CTE chain, so a dangling-node graph iteration sits under
    the value-exact differential. Total mass is conserved at N by
    construction (teleport + redistribution replace exactly what
    damping removes), pinned in tests/test_graph.py."""
    from ..operators.graph import pagerank_full

    li = Catalog(spark, sf_dir).lineitem
    edges = (
        li.select(
            (F.col("l_partkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # broadcast_ranks: nodes = parts ∪ suppliers, dimension-bounded
    # (21 k at sf0.1) — O(nodes) frames broadcast, the edge table is
    # never exchanged per round (guide §3.1).
    ranks = pagerank_full(edges, n_iter=3, damping=0.85, broadcast_ranks=True)
    return ranks.select(
        "node", F.round("rank", 6).alias("pagerank")
    ).orderBy("node")


# ----------------------------------------------------- robust MAD outliers


@query(
    "mad_price_outliers",
    oracle="""
    WITH med AS (
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY o_orderpriority
    ),
    dev AS (
        SELECT o.o_orderpriority, ABS(o_totalprice - med) AS d
        FROM orders o JOIN med ON o.o_orderpriority = med.o_orderpriority
    ),
    mad AS (
        SELECT o_orderpriority, quantile_cont(d, 0.5) AS mad
        FROM dev GROUP BY o_orderpriority
    )
    SELECT dev.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(MIN(mad), 6) AS mad,
           CAST(SUM(CASE WHEN d > (CAST(3.0 AS DOUBLE)
                                   * CAST(1.4826 AS DOUBLE)) * mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.o_orderpriority = mad.o_orderpriority
    GROUP BY dev.o_orderpriority
    ORDER BY dev.o_orderpriority
    """,
    tags=("analytic", "statistics", "robust"),
)
def mad_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: median absolute deviation per order
    priority, flagging orders beyond 3 robust standard deviations
    (MAD × 1.4826 ≈ σ under normality) — the complement to
    ``zscore_price_outliers`` that extreme values cannot corrupt,
    since the median ignores them. Two exact-percentile passes
    (median of price, then median of |price − median|) with the tiny
    per-priority frames broadcast back between passes. The deviation
    subtree feeds both the MAD aggregate and the outlier count; at
    scale persist it (cache.track) instead of recomputing — here the
    double scan is cheaper than the cache.
    """
    orders = Catalog(spark, sf_dir).orders
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    dev = orders.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("d"),
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    thresh = (F.lit(3.0) * F.lit(1.4826)) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("d") > thresh, 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------- Benford digit audit


@query(
    "benford_price_digits",
    oracle="""
    WITH cents AS (
        SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               COUNT(*) AS n_obs
        FROM cents GROUP BY 1
    ),
    tot AS (
        SELECT digit, n_obs, SUM(n_obs) OVER () AS n FROM digits
    )
    SELECT digit, n_obs,
           ROUND(LOG10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit),
                 6) AS expected_share,
           ROUND(((CAST(n_obs AS DOUBLE)
                   - LOG10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit)
                     * n)
                  * (CAST(n_obs AS DOUBLE)
                     - LOG10(CAST(1.0 AS DOUBLE)
                             + CAST(1.0 AS DOUBLE) / digit) * n))
                 / (LOG10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit)
                    * n), 6) AS chi2_term
    FROM tot
    ORDER BY digit
    """,
    tags=("analytic", "data-quality"),
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen for a data catalog's quality layer. The
    first digit is taken from the DECIMAL CENTS integer (prices are
    2 dp), never via floor(log10(x)): the float-log path misassigns
    exact powers of ten when log10 lands one ulp under an integer,
    and integer→string is bit-exact in both engines. Expected share
    is log10(1 + 1/d); χ² terms are emitted per digit (sum them for
    the test statistic). One map-side aggregate into 9 rows; the
    window total runs over those 9 rows, not the table.
    """
    orders = Catalog(spark, sf_dir).orders
    cents = orders.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    ).groupBy("digit").agg(F.count("*").alias("n_obs"))
    tot = digits.withColumn(
        "n", F.sum("n_obs").over(Window.partitionBy())
    )
    share = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    exp_n = share * F.col("n")
    diff = F.col("n_obs").cast("double") - exp_n
    return tot.select(
        "digit",
        "n_obs",
        F.round(share, 6).alias("expected_share"),
        F.round((diff * diff) / exp_n, 6).alias("chi2_term"),
    ).orderBy("digit")


# ------------------------------------------------------- event path mining


@query(
    "top_event_paths",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id
               ) AS rn
        FROM events
    ),
    firsts AS (
        SELECT user_id,
               MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
               MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
               MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
        FROM ordered WHERE rn <= 3
        GROUP BY user_id
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           COUNT(*) AS n_users
    FROM firsts
    WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
    tags=("timeseries", "funnel"),
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common onboarding paths: each user's first three events as an
    ordered 'a>b>c' string, counted across users — the path-mining
    primitive behind funnel discovery (funnel_view_purchase checks a
    KNOWN sequence; this FINDS the frequent ones). One keyed window
    ranks per user (rn ≤ 3 filters map-side), a conditional-agg
    pivot folds the triple into one row per user without
    array_agg's nondeterministic ordering, and the path count is
    map-side combinable with a TakeOrdered top-20.
    """
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(
        epoch_us("ts").asc(), F.col("event_id")
    )
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    firsts = ordered.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("e1"),
        F.max(F.when(F.col("rn") == 2, F.col("event_type"))).alias("e2"),
        F.max(F.when(F.col("rn") == 3, F.col("event_type"))).alias("e3"),
    )
    return (
        firsts.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path"),
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# -------------------------------------------------- per-doc token entropy


@query(
    "token_entropy_per_doc",
    oracle=r"""
    WITH words AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents
    ),
    counts AS (
        SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
    ),
    sums AS (
        SELECT doc_id, SUM(c) AS t,
               SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))) AS s
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id, CAST(t AS BIGINT) AS n_tokens,
           ROUND(LN(CAST(t AS DOUBLE)) - s / t, 6) AS token_entropy
    FROM sums
    WHERE t >= 10
    ORDER BY doc_id
    """,
    tags=("llm", "quality"),
)
def token_entropy_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy (nats) — the
    repetitiveness quality signal orthogonal to dup_ngram_fraction:
    low entropy means a few tokens dominate (boilerplate, keyword
    stuffing) even when no n-gram literally repeats. Uses the
    join-free identity H = ln(t) − Σc·ln(c)/t, so the whole signal
    is ONE explode + two keyed aggregations on doc_id (the second is
    map-side: counts for a doc land in one partition) — no
    per-doc totals join. Everything is JVM expressions; tokens
    follow the corpus convention (operators/text.py::tokens, same
    split regex as the DuckDB oracle). Docs under 10 tokens are
    excluded — their entropy is all small-sample noise.
    """
    from ..operators.text import tokens

    docs = Catalog(spark, sf_dir).documents
    # explode_outer + null-filter: keeps the inferred scan filter from
    # re-tokenizing each document (row set identical — tokens() never
    # yields an empty array)
    words = docs.select(
        "doc_id", F.explode_outer(tokens("text")).alias("w")
    ).where(F.col("w").isNotNull())
    counts = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    cd = F.col("c").cast("double")
    sums = counts.groupBy("doc_id").agg(
        F.sum("c").alias("t"),
        F.sum(cd * F.log(cd)).alias("s"),
    )
    return (
        sums.filter(F.col("t") >= 10)
        .select(
            "doc_id",
            F.col("t").alias("n_tokens"),
            F.round(
                F.log(F.col("t").cast("double"))
                - F.col("s") / F.col("t"),
                6,
            ).alias("token_entropy"),
        )
        .orderBy("doc_id")
    )


# ----------------------------------------------- concentration: HHI / top-1%


@query(
    "hhi_source_concentration",
    oracle="""
    WITH counts AS (
        SELECT lang, source, COUNT(*) AS c
        FROM documents GROUP BY lang, source
    ),
    tot AS (
        SELECT lang, SUM(c) AS t, COUNT(*) AS n_sources,
               SUM(c * c) AS s2
        FROM counts GROUP BY lang
    )
    SELECT lang, n_sources,
           ROUND(CAST(s2 AS DOUBLE)
                 / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS hhi
    FROM tot
    ORDER BY lang
    """,
    tags=("llm", "corpus-balance"),
)
def hhi_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of each language's source
    mix: HHI = Σ(cᵢ/t)² — 1/n_sources when perfectly balanced, 1.0
    when one source owns the language. Unlike the entropy variant
    this is PURE RATIONAL arithmetic (Σcᵢ² and t² are integers; the
    only float op is one division), so the value is bit-identical
    cross-engine by construction, no log-ulp caveat. Two bounded
    aggregations, zero joins. At extreme counts (t > ~3·10⁹) move the
    squaring after the cast to double, as written here.
    """
    docs = Catalog(spark, sf_dir).documents
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("c"))
    tot = counts.groupBy("lang").agg(
        F.sum("c").alias("t"),
        F.count("*").alias("n_sources"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    td = F.col("t").cast("double")
    return tot.select(
        "lang",
        "n_sources",
        F.round(F.col("s2").cast("double") / (td * td), 6).alias("hhi"),
    ).orderBy("lang")


@query(
    "top1pct_revenue_share",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT spend,
               ROW_NUMBER() OVER (ORDER BY spend DESC, o_custkey) AS rn
        FROM spend
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(spend) AS total FROM spend)
    SELECT n AS n_customers,
           CAST(FLOOR((CAST(n AS DOUBLE) + 99.0) / 100.0) AS BIGINT)
               AS top_pct_customers,
           ROUND(CAST(SUM(CASE WHEN rn <= CAST(FLOOR(
                           (CAST(n AS DOUBLE) + 99.0) / 100.0) AS BIGINT)
                      THEN spend END) AS DOUBLE)
                 / CAST(MIN(total) AS DOUBLE), 6) AS top_share
    FROM ranked CROSS JOIN tot
    GROUP BY n
    """,
    tags=("analytic", "concentration"),
)
def top1pct_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the share of total spend held by the
    top 1% of customers (k = ⌈n/100⌉, ties broken by custkey) — the
    whale-curve number behind account-tiering decisions. Spends are
    summed in DECIMAL so the ranking is summation-order-independent
    (the shapes.py monetary convention), and the global rank uses
    ``global_row_number`` — per-bucket sorts + broadcast offsets, no
    single-task window — so the plan holds at any customer count.
    The 1-row totals frame is a broadcast scalar attach.
    """
    from ..operators.windows import global_row_number

    orders = Catalog(spark, sf_dir).orders
    # track: feeds the ranker's quantile + bucket-count actions, the
    # final plan, and the totals agg — four executions untracked (r14)
    spend = cache.track(
        orders.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
        )
    )
    ranked = global_row_number(
        spend,
        value_col="spend",
        ascending=False,
        tiebreak_cols=["o_custkey"],
        name="rn",
    )
    tot = spend.agg(
        F.count("*").alias("n"), F.sum("spend").alias("total")
    )
    k = F.floor((F.col("n").cast("double") + 99.0) / 100.0).cast("long")
    return (
        ranked.join(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.min(k).alias("top_pct_customers"),
            F.round(
                F.sum(F.when(F.col("rn") <= k, F.col("spend")))
                .cast("double")
                / F.min("total").cast("double"),
                6,
            ).alias("top_share"),
        )
        .select(
            F.col("n").alias("n_customers"),
            "top_pct_customers",
            "top_share",
        )
    )


# ------------------------------------- recursive CTE / lateral SQL surface


@query(
    "reachable_event_types",
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id
               ) AS next_type
        FROM events
    ),
    edges AS (
        SELECT DISTINCT event_type AS src, next_type AS dst
        FROM ordered
        WHERE next_type IS NOT NULL AND next_type <> event_type
    ),
    paths(src, dst, hops) AS (
        SELECT src, dst, 1 FROM edges
        UNION ALL
        SELECT p.src, e.dst, p.hops + 1
        FROM paths p JOIN edges e ON p.dst = e.src
        WHERE p.hops < 4
    )
    SELECT src, dst, MIN(hops) AS min_hops
    FROM paths
    GROUP BY src, dst
    ORDER BY src, dst
    """,
    tags=("graph", "recursive-cte"),
)
def reachable_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure via WITH RECURSIVE (new in Spark
    4.0): which event types are reachable from which through observed
    user transitions, and in how few hops. The recursion is
    depth-capped (hops < 4), so termination is by construction even
    on cyclic transition graphs, and the UNION ALL + MIN(hops)
    formulation gives both engines identical semantics (recursive
    UNION-dedup support differs across engines; aggregation outside
    doesn't). The edge list is the per-user LEAD window contracted to
    DISTINCT type pairs — bounded by |types|², so each recursive step
    is a tiny join no matter the corpus size; the expensive pass (the
    keyed window over events) runs exactly once.
    """
    from .. import cache

    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(
        epoch_us("ts").asc(), F.col("event_id")
    )
    edges = cache.track(
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
    )
    # persist before registering: the view is referenced once per
    # recursion depth, and without it each step re-runs the 1M-row
    # window that builds the (tiny) edge list.
    edges.createOrReplaceTempView("__reach_edges")
    return spark.sql("""
        WITH RECURSIVE paths(src, dst, hops) AS (
            SELECT src, dst, 1 FROM __reach_edges
            UNION ALL
            SELECT p.src, e.dst, p.hops + 1
            FROM paths p JOIN __reach_edges e ON p.dst = e.src
            WHERE p.hops < 4
        )
        SELECT src, dst, MIN(hops) AS min_hops
        FROM paths
        GROUP BY src, dst
        ORDER BY src, dst
    """)


@query(
    "lateral_top_customers_per_nation",
    oracle="""
    SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2
    ) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """,
    tags=("analytic", "lateral"),
)
def lateral_top_customers_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Correlated LATERAL subquery (per-nation top-2 customers by
    balance) — the SQL-standard spelling of top-N-per-group, run
    through ``spark.sql`` to pin the engine's lateral-join surface.
    Catalyst decorrelates it into the same ranked-window plan the
    DataFrame API would build; the point of the query is that the
    LATERAL form round-trips the differential, not a new plan shape.
    Deterministic: balance ties broken by custkey inside the lateral,
    names in the outer ordering.
    """
    Catalog(spark, sf_dir).register_all()
    return spark.sql("""
        SELECT n.n_name, t.c_name, ROUND(t.c_acctbal, 2) AS acctbal
        FROM nation n, LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
    """)


# ------------------------------------------------- seasonal decomposition


@query(
    "weekday_seasonal_indices",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
        FROM orders GROUP BY 1
    ),
    trended AS (
        SELECT d, r,
               AVG(CAST(r AS DOUBLE)) OVER (
                   ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               ) AS trend,
               COUNT(*) OVER (
                   ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               ) AS wn
        FROM daily
    )
    SELECT isodow(d) AS weekday,
           COUNT(*) AS n_days,
           ROUND(AVG(CAST(r AS DOUBLE) - trend), 6) AS seasonal_index
    FROM trended
    WHERE wn = 7
    GROUP BY isodow(d)
    ORDER BY weekday
    """,
    tags=("timeseries", "decomposition"),
)
def weekday_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition, the weekday layer:
    daily revenue → centered 7-day moving-average trend → per-ISO-
    weekday mean of the detrended series. A positive index says that
    weekday systematically beats its local trend — the
    seasonality-vs-trend split behind anomaly baselines and forecast
    features. The unpartitioned trend window runs over the DAILY
    aggregate (bounded by calendar span, a few thousand rows — the
    documented exception to the global-window rule), never the fact
    table; edge days without a full 7-day window are excluded
    identically in both engines (wn = 7). Weekday via Spark
    ``weekday()+1`` == DuckDB ``isodow`` (1 = Monday).
    """
    orders = Catalog(spark, sf_dir).orders
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "r",
        F.avg(F.col("r").cast("double")).over(w).alias("trend"),
        F.count("*").over(w).alias("wn"),
    )
    return (
        trended.filter(F.col("wn") == 7)
        .groupBy(
            # bigint: duck isodow() binds BIGINT (r13 width guard)
            (F.weekday("d") + 1).cast("long").alias("weekday")
        )
        .agg(
            F.count("*").alias("n_days"),
            F.round(
                F.avg(F.col("r").cast("double") - F.col("trend")), 6
            ).alias("seasonal_index"),
        )
        .orderBy("weekday")
    )


# ---------------------------------------------- random projection (JL) ----

_RP_IN_DIM = 64   # embeddings.embedding dimensionality (queries/llm.py)
_RP_OUT_DIM = 8


def _rp_sign(i: int, j: int) -> int:
    """Deterministic ±1 from the Fibonacci hash of the matrix cell —
    the same engine-portable pseudo-randomness as the samplers."""
    return 1 if ((i * _RP_IN_DIM + j) * _KNUTH) % _M32 < _M32 // 2 else -1


def _rp_sql_component(i: int) -> str:
    terms = [
        f"({'' if _rp_sign(i, j) > 0 else '-'}"
        f"CAST(embedding[{j + 1}] AS DOUBLE))"
        for j in range(_RP_IN_DIM)
    ]
    return "ROUND((" + " + ".join(terms) + f") / SQRT({_RP_OUT_DIM}.0), 6)"


@query(
    "random_projection_embeddings",
    oracle=f"""
    SELECT vec_id,
           {", ".join(f"{_rp_sql_component(i)} AS rp{i}"
                      for i in range(_RP_OUT_DIM))}
    FROM embeddings
    ORDER BY vec_id
    LIMIT 500
    """,
    tags=("similarity", "dimensionality-reduction"),
)
def random_projection_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 8 dims with a
    deterministic ±1 (Achlioptas) matrix: the cheap distance-
    preserving reduction run before ANN indexing when the full
    embedding is overkill. The matrix lives in the PLAN as literal
    sign arrays — no matrix table, no join, no UDF; each component is
    an ``aggregate`` left fold whose addition order matches the
    oracle's explicit left-associated 64-term sum exactly (0.0 + t₀
    = t₀ in IEEE, then identical pairing), so values are bit-equal
    before ROUND. The fold form matters operationally too: the
    expanded 512-node literal expression tree costs ~17 s of
    analysis/codegen per run, the fold ~2 s cold / 0.1 s warm — same
    math, two orders of magnitude less plan. Map-only; sqrt(8) is
    correctly rounded in both engines, so the scale factor is exact.
    """
    emb = Catalog(spark, sf_dir).embeddings
    cols = []
    for i in range(_RP_OUT_DIM):
        signs = (
            "array("
            + ",".join(f"{_rp_sign(i, j)}.0D" for j in range(_RP_IN_DIM))
            + ")"
        )
        cols.append(
            F.expr(
                f"round(aggregate(sequence(0, {_RP_IN_DIM - 1}), 0.0D,"
                f" (acc, j) -> acc"
                f" + CAST(element_at(embedding, j + 1) AS DOUBLE)"
                f" * element_at({signs}, j + 1))"
                f" / sqrt({_RP_OUT_DIM}.0), 6)"
            ).alias(f"rp{i}")
        )
    return emb.select("vec_id", *cols).orderBy("vec_id").limit(500)


# ------------------------------------------ higher moments from power sums


@query(
    "moments_quantity_by_flag",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DOUBLE)) AS s1,
               SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE))
                   AS s2,
               SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                   * CAST(l_quantity AS DOUBLE)) AS s3,
               SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
                   * CAST(l_quantity AS DOUBLE)
                   * CAST(l_quantity AS DOUBLE)) AS s4
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(s1 / n, 6) AS mean_qty,
           ROUND(((s3 / n) - (3.0 * (s1 / n)) * (s2 / n)
                  + (2.0 * (s1 / n)) * (s1 / n) * (s1 / n))
                 / POWER((s2 / n) - (s1 / n) * (s1 / n), 1.5),
                 6) AS skewness_g1,
           ROUND(((s4 / n) - (4.0 * (s1 / n)) * (s3 / n)
                  + (6.0 * (s1 / n)) * (s1 / n) * (s2 / n)
                  - (3.0 * (s1 / n)) * (s1 / n) * (s1 / n) * (s1 / n))
                 / (((s2 / n) - (s1 / n) * (s1 / n))
                    * ((s2 / n) - (s1 / n) * (s1 / n)))
                 - 3.0, 6) AS excess_kurtosis_g2
    FROM s
    ORDER BY l_returnflag
    """,
    tags=("analytic", "statistics"),
)
def moments_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group — derived from raw power
    sums (ΣX..ΣX⁴) in ONE map-side-combined aggregate rather than the
    engines' skewness()/kurtosis(), whose population-vs-sample
    definitions disagree between Spark (g) and DuckDB (G) and would
    never hash-match. The moment formulas are spelled with identical
    parenthesization in both engines; power sums are safe here
    because l_quantity is small (1..50 — no catastrophic
    cancellation; for wide-range columns shift by a pivot first).
    """
    li = Catalog(spark, sf_dir).lineitem
    x = F.col("l_quantity").cast("double")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    var = (s2 / n) - mu * mu
    g1 = ((s3 / n) - (3.0 * mu) * (s2 / n) + (2.0 * mu) * mu * mu) / F.pow(
        var, 1.5
    )
    g2 = (
        (s4 / n)
        - (4.0 * mu) * (s3 / n)
        + (6.0 * mu) * mu * (s2 / n)
        - (3.0 * mu) * mu * mu * mu
    ) / (var * var) - 3.0
    return s.select(
        "l_returnflag",
        "n",
        F.round(mu, 6).alias("mean_qty"),
        F.round(g1, 6).alias("skewness_g1"),
        F.round(g2, 6).alias("excess_kurtosis_g2"),
    ).orderBy("l_returnflag")


# --------------------------------------------------- series autocorrelation


@query(
    "daily_revenue_autocorr",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT r,
               LAG(r, 1) OVER (ORDER BY d) AS r1,
               LAG(r, 7) OVER (ORDER BY d) AS r7
        FROM daily
    )
    SELECT COUNT(*) AS n_days,
           ROUND(corr(r, r1), 6) AS autocorr_lag1,
           ROUND(corr(r, r7), 6) AS autocorr_lag7
    FROM lagged
    """,
    tags=("timeseries", "statistics"),
)
def daily_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the daily revenue series —
    the stationarity/weekly-seasonality diagnostic read alongside
    ``weekday_seasonal_indices`` (a high lag-7 value is the numeric
    trace of the weekday effect). Daily DECIMAL totals first (exact,
    bounded by calendar span), then two LAGs over that small frame
    and one corr() aggregate; corr ignores the NULL lead-in rows
    identically in both engines (pairwise-complete semantics).
    """
    orders = Catalog(spark, sf_dir).orders
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("r")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "r",
        F.lag("r", 1).over(w).alias("r1"),
        F.lag("r", 7).over(w).alias("r7"),
    )
    return lagged.agg(
        F.count("*").alias("n_days"),
        F.round(F.corr("r", "r1"), 6).alias("autocorr_lag1"),
        F.round(F.corr("r", "r7"), 6).alias("autocorr_lag7"),
    )


@query(
    "theil_sen_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS r
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    pairs AS (
        SELECT (b.r - a.r) / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON b.x > a.x
    ),
    m AS (
        SELECT quantile_cont(slope, 0.5) AS ts, COUNT(*) AS n_pairs
        FROM pairs
    )
    SELECT (SELECT COUNT(*) FROM daily) AS n_days,
           (SELECT n_pairs FROM m) AS n_pairs,
           ROUND((SELECT ts FROM m), 6) + 0.0 AS ts_slope,
           ROUND((SELECT quantile_cont(r - (SELECT ts FROM m) * x, 0.5)
                  FROM daily), 6) + 0.0 AS ts_intercept,
           ROUND((SELECT regr_slope(r, x) FROM daily), 6) + 0.0
             AS ols_slope
    """,
    tags=("analytic", "statistics", "robust", "timeseries"),
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily revenue series: the median
    of all pairwise slopes (r_j − r_i)/(x_j − x_i) over day pairs,
    with the matching median-residual intercept and the OLS slope for
    contrast (Theil–Sen tolerates ~29 % outlier days; OLS tolerates
    none).

    The scale shape is the point: the O(n²) pair enumeration runs on
    the DAILY aggregate, whose size is bounded by the calendar span
    (~2.4k days for this data, ~36.5k for a century) and INDEPENDENT
    of fact-table size — 100 TB of orders still collapses to the same
    few-thousand-row frame through one map-side-combined DECIMAL
    aggregate. The self-pair join is a broadcast of that bounded
    frame (allow-listed BNLJ, never fact×fact); the ~3M slopes' median
    comes from ``exact_percentile_selection`` — three bounded passes
    (count, rank-bracketing approxQuantile, one bracket collect)
    instead of Spark's value-buffering ``percentile`` aggregate,
    which is both the 100 TB-safe plan (nothing ever gathers more
    than the ~2·rel_err·n bracket) and ~3× faster here. Float parity:
    daily totals are exact DECIMAL sums cast once to double; each
    slope is one subtraction and one division evaluated identically
    per pair; the selection interpolates with the same SQL-standard
    weighted form as DuckDB quantile_cont (bit-identical, pinned in
    test_operators.py); the intercept reuses the UNROUNDED slope in
    both engines; ``+ 0.0`` guards IEEE −0.0 on the near-zero
    slope."""
    from ..operators.windows import exact_percentile_selection

    orders = Catalog(spark, sf_dir).orders
    daily = cache.track(
        orders.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("r")
        )
        .select(
            F.datediff("d", F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("x"),
            "r",
        )
    )
    a = daily.repartition(32).select(
        F.col("x").alias("x1"), F.col("r").alias("r1")
    )
    b = daily.select(F.col("x").alias("x2"), F.col("r").alias("r2"))
    slopes = cache.track(
        a.join(F.broadcast(b), F.col("x2") > F.col("x1")).select(
            (
                (F.col("r2") - F.col("r1"))
                / (F.col("x2") - F.col("x1")).cast("double")
            ).alias("slope")
        )
    )
    ts = exact_percentile_selection(slopes, "slope", 0.5)
    n_pairs = slopes.count()
    resid = daily.select(
        (F.col("r") - F.lit(ts) * F.col("x")).alias("res")
    )
    intercept = resid.agg(
        (F.round(F.percentile("res", F.lit(0.5)), 6) + F.lit(0.0)).alias(
            "ts_intercept"
        )
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.round(F.regr_slope("r", "x"), 6) + F.lit(0.0)).alias(
            "ols_slope"
        ),
    )
    return (
        stats.crossJoin(F.broadcast(intercept))
        .select(
            "n_days",
            # bigint: duck COUNT(*) binds BIGINT, while F.lit of a
            # small Python int is int32 (r13 width guard)
            F.lit(n_pairs).cast("long").alias("n_pairs"),
            (F.round(F.lit(ts), 6) + F.lit(0.0)).alias("ts_slope"),
            "ts_intercept",
            "ols_slope",
        )
    )


# ------------------------------------------- chi-square independence test


@query(
    "chi2_priority_status_independence",
    oracle="""
    WITH obs AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s, COUNT(*) AS o
        FROM orders GROUP BY 1, 2
    ),
    tot AS (
        SELECT p, s, o,
               SUM(o) OVER (PARTITION BY p) AS rp,
               SUM(o) OVER (PARTITION BY s) AS cs,
               SUM(o) OVER () AS n
        FROM obs
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_orders,
           (COUNT(DISTINCT p) - 1) * (COUNT(DISTINCT s) - 1) AS dof,
           ROUND(SUM(((CAST(o AS DOUBLE)
                       - (CAST(rp AS DOUBLE) * cs) / n)
                      * (CAST(o AS DOUBLE)
                         - (CAST(rp AS DOUBLE) * cs) / n))
                     / ((CAST(rp AS DOUBLE) * cs) / n)), 6) AS chi2,
           ROUND(SQRT(SUM(((CAST(o AS DOUBLE)
                            - (CAST(rp AS DOUBLE) * cs) / n)
                           * (CAST(o AS DOUBLE)
                              - (CAST(rp AS DOUBLE) * cs) / n))
                          / ((CAST(rp AS DOUBLE) * cs) / n))
                      / (MIN(n)
                         * LEAST(COUNT(DISTINCT p) - 1,
                                 COUNT(DISTINCT s) - 1))), 6) AS cramers_v
    FROM tot
    """,
    tags=("analytic", "statistics", "data-quality"),
)
def chi2_priority_status_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson chi-square independence test between order priority and
    status, with Cramér's V effect size — the categorical-association
    audit a catalog's quality layer runs on suspicious column pairs
    (V ≈ 0: independent; → 1: one determines the other). One
    map-side contingency count into a ≤|P|·|S| frame; row/column
    margins via windows over that tiny frame; the statistic is one
    aggregate with the expected-count expression spelled identically
    in both engines.
    """
    orders = Catalog(spark, sf_dir).orders
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("p"),
        F.col("o_orderstatus").alias("s"),
    ).agg(F.count("*").alias("o"))
    tot = obs.select(
        "p",
        "s",
        "o",
        F.sum("o").over(Window.partitionBy("p")).alias("rp"),
        F.sum("o").over(Window.partitionBy("s")).alias("cs"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = (F.col("rp").cast("double") * F.col("cs")) / F.col("n")
    dev = F.col("o").cast("double") - e
    chi2 = F.sum((dev * dev) / e)
    dof_p = F.count_distinct(F.col("p")) - 1
    dof_s = F.count_distinct(F.col("s")) - 1
    return tot.agg(
        F.min("n").alias("n_orders"),
        (dof_p * dof_s).alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(chi2 / (F.min("n") * F.least(dof_p, dof_s))), 6
        ).alias("cramers_v"),
    )


# --------------------------------------------- deterministic bootstrap CI

#: Poisson(1) CDF thresholds scaled to 2^32 — an integer hash below
#: threshold k gets resample weight k (tail merged into 5). Integer
#: compares only: no float enters until the replicate means.
_BOOT_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)
_BOOT_B = 32


def _boot_weight(b: int):
    """Replicate-``b`` Poisson-bootstrap weight for an order row:
    Knuth-hash the (orderkey, replicate) pair to a uniform 32-bit
    integer, invert the Poisson(1) CDF by integer thresholds."""
    h = F.pmod(
        F.pmod(F.col("o_orderkey") + F.lit(b * 1000003), F.lit(_M31))
        * F.lit(_KNUTH),
        F.lit(_M32),
    )
    w = F.when(h < _BOOT_T[0], 0)
    for i, t in enumerate(_BOOT_T[1:], start=1):
        w = w.when(h < t, i)
    return w.otherwise(5).cast("long")


def _boot_oracle_sql() -> str:
    cases = "WHEN h < 1580030168 THEN 0 " + " ".join(
        f"WHEN h < {t} THEN {i}"
        for i, t in enumerate(_BOOT_T[1:], start=1)
    )
    return f"""
    WITH reps AS (SELECT unnest(range({_BOOT_B})) AS b),
    hashed AS (
        SELECT r.b,
               (((o_orderkey + r.b * 1000003) % {_M31}) * {_KNUTH})
                   % {_M32} AS h,
               CAST(o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders, reps r
    ),
    weighted AS (
        SELECT b, CASE {cases} ELSE 5 END AS w, p FROM hashed
    ),
    means AS (
        SELECT b, CAST(SUM(w * p) AS DOUBLE) / SUM(w) AS m
        FROM weighted GROUP BY b
    ),
    pt AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) AS mu
        FROM orders
    )
    SELECT (SELECT n_rows FROM pt) AS n_rows,
           ROUND((SELECT mu FROM pt), 6) + 0.0 AS point_mean,
           ROUND(stddev_samp(m), 6) + 0.0 AS boot_se,
           ROUND(quantile_cont(m, 0.025), 6) + 0.0 AS ci_lo,
           ROUND(quantile_cont(m, 0.975), 6) + 0.0 AS ci_hi
    FROM means
    """


@query(
    "bootstrap_mean_ci",
    oracle=_boot_oracle_sql(),
    tags=("analytic", "statistics", "resampling"),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95 % confidence interval for the mean order
    price — 32 deterministic resample replicates in ONE scan. Each
    replicate draws a per-row weight ~ Poisson(1) by inverting the
    CDF on an integer Knuth hash of (orderkey, replicate) — the
    classic streaming bootstrap (resampling without materializing
    resamples), made engine-portable by using integer hash compares
    instead of either engine's RNG.

    Scale shape: the engine side never explodes rows — all 32
    replicates are 64 conditional aggregates (weighted DECIMAL sum +
    weight count per replicate) in a single map-side-combined pass;
    the 32 replicate means then unfold from one row and feed exact
    quantiles. The oracle cross-joins orders x 32 instead (same
    values, |orders|x32 rows) — the shape difference IS the point:
    at 100 TB the explode costs 32 scans' worth of shuffle, the
    aggregate-vector costs one. Float parity: weighted sums are
    exact DECIMAL (weight <= 5 keeps DECIMAL(18,2)x5 well inside
    38 digits), cast to double once per replicate; quantile
    interpolation and stddev_samp over the same 32 doubles agree to
    6 dp; ``+ 0.0`` guards IEEE -0.0."""
    orders = Catalog(spark, sf_dir).orders
    p = F.col("o_totalprice").cast("decimal(18,2)")
    aggs = [F.count(F.lit(1)).alias("n_rows"), F.sum(p).alias("tot")]
    for b in range(_BOOT_B):
        w = _boot_weight(b)
        aggs.append(F.sum(p * w).alias(f"s{b}"))
        aggs.append(F.sum(w).alias(f"c{b}"))
    one = orders.agg(*aggs)
    means = one.select(
        "n_rows",
        (F.col("tot").cast("double") / F.col("n_rows")).alias("mu"),
        F.explode(
            F.array(
                *[
                    F.col(f"s{b}").cast("double") / F.col(f"c{b}")
                    for b in range(_BOOT_B)
                ]
            )
        ).alias("m"),
    )
    return means.groupBy("n_rows", "mu").agg(
        (F.round(F.stddev_samp("m"), 6) + F.lit(0.0)).alias("boot_se"),
        (F.round(F.percentile("m", F.lit(0.025)), 6) + F.lit(0.0)).alias(
            "ci_lo"
        ),
        (F.round(F.percentile("m", F.lit(0.975)), 6) + F.lit(0.0)).alias(
            "ci_hi"
        ),
    ).select(
        "n_rows",
        (F.round(F.col("mu"), 6) + F.lit(0.0)).alias("point_mean"),
        "boot_se",
        "ci_lo",
        "ci_hi",
    )


@query(
    "cusum_changepoint_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS r
        FROM orders GROUP BY 1
    ),
    mu AS (
        SELECT CAST(SUM(CAST(r AS DECIMAL(30,8))) AS DOUBLE)
                 / COUNT(*) AS m,
               COUNT(*) AS n
        FROM daily
    ),
    cusum AS (
        SELECT d,
               SUM(r - (SELECT m FROM mu))
                 OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s
        FROM daily
    )
    SELECT (SELECT n FROM mu) AS n_days,
           (SELECT d FROM cusum ORDER BY ABS(s) DESC, d LIMIT 1)
             AS changepoint_day,
           ROUND((SELECT MAX(ABS(s)) FROM cusum), 4) + 0.0
             AS max_abs_cusum,
           ROUND((SELECT m FROM mu), 6) + 0.0 AS mean_daily_revenue
    """,
    tags=("timeseries", "statistics", "changepoint"),
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan over the daily revenue series: the
    cumulative sum of deviations from the grand mean peaks (in
    absolute value) at the most likely single shift point — the
    classic offline CUSUM estimator read next to
    daily_revenue_autocorr and weekday_seasonal_indices.

    Like theil_sen_daily_trend, the heavy input collapses to the
    calendar-bounded daily frame first (one map-side-combined DECIMAL
    aggregate — 100 TB of orders still yields ~2.4k rows), so the
    ordered running sum is a bounded-frame window, not a fact-table
    sort; the mean is attached as a 1-row broadcast. Float parity:
    daily totals are exact DECIMAL cast once; the running sum
    accumulates ascending-by-day in both engines (identical
    left-assoc order); the argmax day is pinned deterministic by the
    (|s| DESC, day ASC) tie-break. The grand mean divides an exact
    DECIMAL(30,8) total, immune to summation-order ulp."""
    orders = Catalog(spark, sf_dir).orders
    daily = cache.track(
        orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("r")
        )
    )
    mu = daily.agg(
        (
            F.sum(F.col("r").cast("decimal(30,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cusum = daily.crossJoin(F.broadcast(mu)).select(
        "d",
        "n",
        "m",
        F.sum(F.col("r") - F.col("m")).over(w).alias("s"),
    )
    top = (
        cusum.orderBy(F.abs(F.col("s")).desc(), F.col("d").asc())
        .limit(1)
        .select(
            F.col("n").alias("n_days"),
            F.col("d").alias("changepoint_day"),
            (F.round(F.abs(F.col("s")), 4) + F.lit(0.0)).alias(
                "__cand_max"
            ),
            (F.round(F.col("m"), 6) + F.lit(0.0)).alias(
                "mean_daily_revenue"
            ),
        )
    )
    mx = cusum.agg(
        (F.round(F.max(F.abs(F.col("s"))), 4) + F.lit(0.0)).alias(
            "max_abs_cusum"
        )
    )
    return top.crossJoin(F.broadcast(mx)).select(
        "n_days",
        "changepoint_day",
        "max_abs_cusum",
        "mean_daily_revenue",
    )


@query(
    "seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS r
        FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(d) AS dmax FROM daily),
    preds AS (
        SELECT d, r, LAG(r, 7) OVER (ORDER BY d) AS yhat
        FROM daily
    ),
    test AS (
        SELECT r, yhat, r - yhat AS e
        FROM preds, mx
        WHERE d > dmax - INTERVAL 28 DAY AND yhat IS NOT NULL
    )
    SELECT COUNT(*) AS n_test_days,
           ROUND(AVG(ABS(e) / ABS(r)) * 100, 6) + 0.0 AS mape_pct,
           ROUND(AVG(2.0 * ABS(e) / (ABS(r) + ABS(yhat))) * 100, 6)
             + 0.0 AS smape_pct,
           ROUND(SQRT(AVG(e * e)), 4) + 0.0 AS rmse
    FROM test
    """,
    tags=("timeseries", "forecast", "backtest"),
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the weekly seasonal-naive forecaster (predict each
    day with the revenue seven days earlier) over the series' final
    28 days — MAPE, symmetric MAPE and RMSE. The evaluation-harness
    primitive every forecasting pipeline needs before trusting a
    fancier model; seasonal-naive is the standard no-skill baseline
    those models must beat (read with daily_revenue_autocorr's lag-7
    coefficient, which predicts how well this does).

    Scale shape: the fact table collapses to the calendar-bounded
    daily frame (one DECIMAL map-side aggregate); the LAG and the
    28-day filter run on ~2.4k rows; the test-window max date is a
    1-row broadcast. Float parity: daily totals are exact DECIMAL
    cast once; each error term is one subtraction/division evaluated
    identically per row; the three error means average ≤ 28 such
    doubles in the same order (ascending-day input to an
    order-insensitive 28-term sum — both engines hash-agg a bounded
    set; ROUND(6/4) absorbs the ≤ 1-ulp commutation)."""
    orders = Catalog(spark, sf_dir).orders
    daily = cache.track(
        orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("r")
        )
    )
    mx = daily.agg(F.max("d").alias("dmax"))
    preds = daily.select(
        "d", "r", F.lag("r", 7).over(Window.orderBy("d")).alias("yhat")
    )
    test = (
        preds.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("d") > F.date_sub(F.col("dmax"), 28))
            & F.col("yhat").isNotNull()
        )
        .select(
            "r", "yhat", (F.col("r") - F.col("yhat")).alias("e")
        )
    )
    return test.agg(
        F.count(F.lit(1)).alias("n_test_days"),
        (
            F.round(F.avg(F.abs("e") / F.abs("r")) * 100, 6) + F.lit(0.0)
        ).alias("mape_pct"),
        (
            F.round(
                F.avg(
                    F.lit(2.0)
                    * F.abs("e")
                    / (F.abs("r") + F.abs("yhat"))
                )
                * 100,
                6,
            )
            + F.lit(0.0)
        ).alias("smape_pct"),
        (F.round(F.sqrt(F.avg(F.col("e") * F.col("e"))), 4) + F.lit(0.0)).alias(
            "rmse"
        ),
    )


@query(
    "zipf_alpha_word_freq",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents
    ),
    wf AS (SELECT term, COUNT(*) AS freq FROM toks GROUP BY 1),
    rk AS (
        SELECT freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS r
        FROM wf
    ),
    q AS (
        SELECT CAST(FLOOR(ln(r) * 10000.0 + 0.5) AS BIGINT) AS xq,
               CAST(FLOOR(ln(freq) * 10000.0 + 0.5) AS BIGINT) AS yq
        FROM rk
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xq) AS BIGINT) AS sx,
               CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * yq) AS BIGINT) AS sxy,
               CAST(SUM(xq * xq) AS BIGINT) AS sxx
        FROM q
    )
    SELECT n AS n_terms,
           ROUND(
             -((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))),
             6) AS zipf_alpha
    FROM s
    """,
    tags=("stats", "text", "regression"),
)
def zipf_alpha_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus word-frequency distribution:
    OLS slope of ln(freq) on ln(rank), negated — the standard
    corpus-linguistics diagnostic (natural text ≈ 1; a flat synthetic
    vocabulary reads near 0, which is itself a data-quality signal).

    Engine-exactness: the two libm values per DISTINCT term (ln rank,
    ln freq) are quantized once to integer ten-thousandths, all five
    OLS sums are then INTEGER (order-free across partitions), and the
    closing slope arithmetic runs on exact-int-valued doubles in
    identical operand order — the same quantize-then-integer-sum
    contract as bigram_lm_doc_nll and the quantized cosine.

    Scale shape: one vocab-sized count aggregate, EXACT global ranks
    without a single-task global window via
    operators/windows.py::global_row_number (bucketed two-phase
    ranking), then a 1-row aggregate. The 10^4 quantization keeps
    every sum far inside int64 at any plausible vocabulary (xq ≤
    ~2.6e5 at a 10^11-type vocab; sxy ≤ n·xq·yq stays under 2^53 for
    the double-exact closing step up to ~10^9 distinct terms)."""
    from ..operators import text as T
    from ..operators.windows import global_row_number

    cat = Catalog(spark, sf_dir)
    # track: the tokenize + explode + count aggregate feeds the
    # ranker's quantile job, its bucket-count collect, and the final
    # plan — three full corpus tokenizations untracked (r14)
    wf = cache.track(
        cat.documents.select(
            F.explode_outer(T.tokens("text")).alias("term")
        )
        .where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    rk = global_row_number(
        wf,
        value_col="freq",
        ascending=False,
        tiebreak_cols=["term"],
        name="r",
    )
    q = rk.select(
        F.floor(F.log("r") * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("xq"),
        F.floor(F.log("freq") * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("yq"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(
            -(
                (nd * F.col("sxy").cast("double")
                 - F.col("sx").cast("double") * F.col("sy").cast("double"))
                / (nd * F.col("sxx").cast("double")
                   - F.col("sx").cast("double") * F.col("sx").cast("double"))
            ),
            6,
        ).alias("zipf_alpha"),
    )
