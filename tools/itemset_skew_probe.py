"""Hot-basket skew probe for the itemset/rule miners (r11 ask #7).

``association_rules_topk`` and ``frequent_itemsets_depth3`` inherit
the basket self-join whose mega-order straggler salting demonstrably
fixed for cooccurrence (SCALING §skew); this probe measures the
miners' OWN shapes at an adversarial basket distribution in the
verdict's 8-16M-pair band:

- rules (depth 2): one mega-order with 4,096 distinct parts among
  200k normal 5-item orders → C(4096,2) ≈ 8.4M pairs from ONE
  orderkey; the full rules pipeline (distinct → self-join → pair
  support → directed-rule scoring → top-20) runs unsalted vs routed
  through operators/joins.py::salted_join x8 — the plan the registry
  ships as ``association_rules_topk_salted``.
- itemsets (depth 3): the triple fan-out is C(M,3), so the band
  needs a smaller hot basket — M=384 → ≈ 9.3M triples from one
  order. The salted variant salts BOTH chained orderkey joins (the
  second join would otherwise re-collapse the hot key one stage
  later).

Reported per variant: wall (best-of-2 noop sink) and the per-task
output histogram of the pair/triple stage (spark_partition_id on the
pre-aggregation join output — the load that sits on one task when
unsalted), plus semantic equality of the aggregated supports and of
the final top-20s. Broadcast disabled and AQE off, the regime where
the straggler actually bites (same protocol as tools/skew_probe.py
--basket). Maintains SCALING.md §itemset-miner hot-basket skew.

Usage: python tools/itemset_skew_probe.py [n_orders]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from lmo_data_catalog_spark.operators.joins import (  # noqa: E402
    hybrid_salted_join,
    salted_join,
)
from tools._shared import replace_section  # noqa: E402

MEGA_PAIRS = 4096  # C(4096,2) = 8,386,560 pairs
MEGA_TRIPLES = 384  # C(384,3) = 9,363,584 triples


def task_histogram(df) -> dict[str, int]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    counts = sorted((r["count"] for r in rows), reverse=True)
    total = sum(counts) or 1
    return {
        "tasks": len(counts),
        "max": counts[0],
        "p50": counts[len(counts) // 2],
        "max_share_pct": round(100.0 * counts[0] / total, 1),
    }


def timed(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def corpus(spark, n_orders: int, mega_items: int):
    mega = spark.range(mega_items).select(
        F.lit(0).alias("l_orderkey"), F.col("id").alias("l_partkey")
    )
    normal = spark.range(n_orders * 5).select(
        ((F.col("id") % n_orders) + 1).alias("l_orderkey"),
        (
            (F.col("id") / n_orders).cast("long") * 10_000
            + F.col("id") % 97
        ).alias("l_partkey"),
    ).distinct()
    return mega.unionByName(normal)


def rules_pair_stage(li, mode: str):
    a = li.toDF("l_orderkey", "pa")
    b = li.toDF("l_orderkey", "pb")
    if mode == "salted":
        j = salted_join(a, b, on=["l_orderkey"], salt_buckets=8)
    elif mode == "hybrid":
        j = hybrid_salted_join(
            a, b, on=["l_orderkey"], salt_buckets=8, hot_threshold=64
        )
    else:
        j = a.join(b, on="l_orderkey")
    return j.filter(F.col("pa") < F.col("pb"))


def rules_topk(li, mode: str):
    n = li.select(F.count_distinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("supp"))
    pair = (
        rules_pair_stage(li, mode)
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= 2)
    )
    rules = pair.select(
        F.col("pa").alias("ante"), F.col("pb").alias("cons"), "supp_ab"
    ).unionByName(
        pair.select(
            F.col("pb").alias("ante"), F.col("pa").alias("cons"), "supp_ab"
        )
    )
    ia = item.toDF("ante", "supp_a")
    ic = item.toDF("cons", "supp_c")
    return (
        rules.join(ia, on="ante")
        .join(ic, on="cons")
        .crossJoin(n)
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


def triple_stage(li, salted: bool):
    a = li.toDF("l_orderkey", "pa")
    b = li.toDF("l_orderkey", "pb")
    c = li.toDF("l_orderkey", "pc")
    if salted:
        ab = salted_join(a, b, on=["l_orderkey"], salt_buckets=8).filter(
            F.col("pa") < F.col("pb")
        )
        return salted_join(ab, c, on=["l_orderkey"], salt_buckets=8).filter(
            F.col("pb") < F.col("pc")
        )
    return (
        a.join(b, on="l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .join(c, on="l_orderkey")
        .filter(F.col("pb") < F.col("pc"))
    )


def main() -> None:
    n_orders = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("itemset_skew_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    results: list[tuple[str, dict]] = []

    li2 = corpus(spark, n_orders, MEGA_PAIRS).cache()
    li2.count()
    for label, mode in (
        ("rules unsalted", "plain"),
        ("rules salted_8 (blanket)", "salted"),
        ("rules hybrid_8 (hot-only)", "hybrid"),
    ):
        wall = min(
            timed(rules_pair_stage(li2, mode)),
            timed(rules_pair_stage(li2, mode)),
        )
        hist = task_histogram(rules_pair_stage(li2, mode))
        results.append((label, dict(hist, wall_s=round(wall, 2))))
        print(results[-1])
    top_u = [tuple(r) for r in rules_topk(li2, "plain").collect()]
    top_s = [tuple(r) for r in rules_topk(li2, "salted").collect()]
    top_h = [tuple(r) for r in rules_topk(li2, "hybrid").collect()]
    rules_equal = top_u == top_s == top_h
    print("rules top-20 identical:", rules_equal)
    li2.unpersist()

    li3 = corpus(spark, n_orders, MEGA_TRIPLES).cache()
    li3.count()
    for label, salted in (
        ("triples unsalted", False),
        ("triples salted_8x8", True),
    ):
        wall = min(
            timed(triple_stage(li3, salted)),
            timed(triple_stage(li3, salted)),
        )
        hist = task_histogram(triple_stage(li3, salted))
        results.append((label, dict(hist, wall_s=round(wall, 2))))
        print(results[-1])
    agg3 = lambda df: df.groupBy("pa", "pb", "pc").count()  # noqa: E731
    diff3 = (
        agg3(triple_stage(li3, False)).exceptAll(agg3(triple_stage(li3, True))).count()
        + agg3(triple_stage(li3, True)).exceptAll(agg3(triple_stage(li3, False))).count()
    )
    print("triple support semantic_diff_rows:", diff3)
    li3.unpersist()

    lines = [
        "## itemset-miner hot-basket skew, measured",
        "",
        "r11 ask #7: the rule/itemset miners inherit the basket",
        "self-join whose mega-order straggler salting fixed for",
        "cooccurrence — measured at the miners' own shapes, in the",
        "verdict's 8-16M band (mega-order of 4,096 parts → 8.39M",
        "pairs; 384 parts → 9.36M triples; 200k normal 5-item",
        "orders; broadcast off, AQE off — the straggler regime).",
        "Per-task output histogram of the pair/triple stage + wall:",
        "",
        "| shape | tasks | max rows | p50 rows | max share | wall |",
        "|---|---|---|---|---|---|",
    ]
    for label, h in results:
        lines.append(
            f"| {label} | {h['tasks']} | {h['max']:,} | {h['p50']:,} "
            f"| {h['max_share_pct']}% | {h['wall_s']} s |"
        )
    lines += [
        "",
        f"Rules top-20 identical plain vs blanket vs hybrid: {rules_equal}.",
        f"Triple-support exceptAll diff: {diff3} rows (must be 0).",
        "",
        "Readings: the straggler REAPPEARS exactly as predicted (the",
        "hot basket's pairs/triples land on one task unsalted);",
        "salting x8 spreads it 8 ways at plan time — the depth-3",
        "chain must salt BOTH orderkey joins or the second join",
        "re-collapses the hot key one stage later. BLANKET salting",
        "pays x8 build-side replication whether or not a hot key",
        "exists (measured 9.1 s vs ~2.7 s at sf0.1 on TPC-H, where",
        "nothing is hot); hybrid_salted_join salts only keys over",
        "the 64-item threshold (one map-side count, broadcast hot",
        "set) — same flattening on the mega-basket, ~unsalted cost",
        "when the corpus is bounded. The registry ships",
        "`association_rules_topk_salted` on the HYBRID (same DuckDB",
        "oracle as the unsalted sibling — hot-only salting is",
        "result-invariant for inner equi-joins — so the differential",
        "hash-pins equivalence).",
        "(Regenerate: python tools/itemset_skew_probe.py.)",
        "",
    ]
    replace_section(
        "itemset-miner hot-basket skew, measured", "\n".join(lines)
    )
    print("wrote SCALING.md §itemset-miner hot-basket skew")
    spark.stop()


if __name__ == "__main__":
    main()
