"""kcore hub-skew probe (r9 verdict ask #3).

operators/graph.py::kcore computes degrees as COUNT(*) OVER
(PARTITION BY node): a window colocates a node's ENTIRE edge list in
one task, and tests/test_aqe_skew.py proves AQE never skew-splits
below a same-key window. A power-law hub therefore rides in a single
task through EVERY peel level (hubs have high degree — they are never
peeled, so the hot partition persists to the core). This probe
quantifies that exposure on a deliberately hubbed graph and compares
the join-based alternative whose shuffles AQE *can* split:

  graph: one hub owning ~half the edges (hub-degree H) + a uniform
         background graph; undirected, single-orientation, no dups.

  window peel  — the shipped operator: per-task shuffle-read records
                 + durations of the heaviest window stage, wall clock.
  agg-join peel — groupBy degree (map-side partials distribute the
                 hub count) + two semi joins (AQE-skew-splittable),
                 one level materialized per action.

Reports max-task share and straggler ratio (max/p50 task duration)
for both, at AQE defaults and with probe-scaled skew thresholds.

Usage: python tools/kcore_skew_probe.py [n_background_edges] [hub_degree]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tools.skew_probe import _app_url, _rest, _stage_ids  # noqa: E402


def heaviest_new_stage_stats(spark, before_ids) -> dict:
    base = _app_url(spark)
    stages = [
        s
        for s in _rest(f"{base}/stages?status=COMPLETE")
        if s["stageId"] not in before_ids
        and s.get("shuffleReadRecords", 0) > 0
    ]
    if not stages:
        return {}
    s = max(stages, key=lambda s: s["shuffleReadRecords"])
    tasks = _rest(
        f"{base}/stages/{s['stageId']}/{s['attemptId']}/taskList?length=2000"
    )
    recs = sorted(
        (
            t.get("taskMetrics", {})
            .get("shuffleReadMetrics", {})
            .get("recordsRead", 0)
            for t in tasks
        ),
        reverse=True,
    )
    durs = sorted(
        (t.get("taskMetrics", {}).get("executorRunTime", 0) for t in tasks),
        reverse=True,
    )
    total = sum(recs) or 1
    return {
        "stage": s["stageId"],
        "tasks": len(recs),
        "max_records": recs[0],
        "p50_records": recs[len(recs) // 2],
        "rec_share_pct": round(100.0 * recs[0] / total, 1),
        "max_task_ms": durs[0],
        "p50_task_ms": durs[len(durs) // 2],
        "straggler_x": round(durs[0] / max(durs[len(durs) // 2], 1), 1),
    }


def build_graph(spark, n_bg: int, hub_deg: int):
    """Hub node 0 → nodes 1..hub_deg, plus n_bg uniform background
    edges among nodes 1..200k (deterministic arithmetic 'randomness',
    canonical orientation, distinct, no self-loops)."""
    hub = spark.range(1, hub_deg + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    n_nodes = 200_000
    bg = (
        spark.range(n_bg)
        .select(
            (
                (F.col("id") * 1103515245 + 12345) % n_nodes + 1
            ).alias("a"),
            (
                (F.col("id") * 69069 + 1) % n_nodes + 1
            ).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("src"),
            F.greatest("a", "b").alias("dst"),
        )
        .distinct()
    )
    edges = hub.unionByName(bg).distinct()
    edges.write.mode("overwrite").parquet("/tmp/kcore_skew_edges")
    return spark.read.parquet("/tmp/kcore_skew_edges")


def aggjoin_kcore(edges_und, k: int, max_rounds: int):
    """Join-based peel: one level per materialize. Degree via groupBy
    (map-side combine distributes the hub), survivors via two semi
    joins (AQE-splittable shuffles). Input: both-direction frame."""
    from lmo_data_catalog_spark import cache

    cur = cache.track(edges_und)
    n = cur.count()
    for _ in range(max_rounds):
        keep = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        nxt = cur.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        )
        nxt = cache.register(nxt.localCheckpoint(eager=False))
        n_next = nxt.count()
        if n_next == n:
            cur = nxt
            break
        cur, n = nxt, n_next
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def main() -> None:
    n_bg = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    hub_deg = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("kcore_skew_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8m",
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m"
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from lmo_data_catalog_spark.operators.graph import kcore

    edges = build_graph(spark, n_bg, hub_deg)
    n_edges = edges.count()
    hub_edges = edges.filter((F.col("src") == 0) | (F.col("dst") == 0)).count()
    print(
        f"graph: {n_edges} edges, hub owns {hub_edges} "
        f"({100.0 * hub_edges / n_edges:.1f}%)"
    )

    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
                F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
            )
        ).alias("__e")
    ).select("__e.u", "__e.v")

    # --- shipped window peel -----------------------------------------
    before = _stage_ids(spark)
    t0 = time.time()
    core_w = kcore(edges, k=3, max_rounds=30)
    n_core_w = core_w.count()
    wall_w = time.time() - t0
    stats_w = heaviest_new_stage_stats(spark, before)
    print(f"window-peel kcore: {wall_w:.2f}s, core nodes {n_core_w}")
    print("  heaviest window stage:", stats_w)

    # --- join-based peel ---------------------------------------------
    before = _stage_ids(spark)
    t0 = time.time()
    core_j = aggjoin_kcore(und, 3, 30)
    n_core_j = core_j.count()
    wall_j = time.time() - t0
    stats_j = heaviest_new_stage_stats(spark, before)
    print(f"agg-join kcore:    {wall_j:.2f}s, core nodes {n_core_j}")
    print("  heaviest join stage:  ", stats_j)

    # --- hub-safe peel (r11: shipped kcore(hub_safe=True)) ------------
    before = _stage_ids(spark)
    t0 = time.time()
    core_h = kcore(edges, k=3, max_rounds=30, hub_safe=True)
    n_core_h = core_h.count()
    wall_h = time.time() - t0
    stats_h = heaviest_new_stage_stats(spark, before)
    print(f"hub-safe kcore:    {wall_h:.2f}s, core nodes {n_core_h}")
    print("  heaviest shuffle stage:", stats_h)

    # semantics must agree
    diff = (
        core_w.exceptAll(core_j).count()
        + core_j.exceptAll(core_w).count()
    )
    diff_h = (
        core_w.exceptAll(core_h).count()
        + core_h.exceptAll(core_w).count()
    )
    print("semantic diff rows (join):", diff, " (hub_safe):", diff_h)
    spark.stop()


if __name__ == "__main__":
    main()
