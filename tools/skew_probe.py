"""Skew-join probe: measure how salting flattens the per-task load.

Builds a deliberately skewed fact table (one key owns half the rows),
joins it to a 100-key dimension with broadcast DISABLED (the regime
where skew actually bites — a broadcastable dim never has a skew
problem), and reports the PER-TASK shuffle-read record distribution
of the join stage (from the UI REST API — ground truth; a
spark_partition_id histogram would add an operator above the join
and suppress the very AQE split under test) for four plans:

  unsalted / AQE off        — the straggler: hot key on ONE task
  unsalted / AQE defaults   — honest null result: the 256 MB skew
                              threshold is sized for real clusters,
                              so a probe-scale partition never splits
  unsalted / AQE skew-tuned — thresholds scaled to the probe so
                              OptimizeSkewedJoin engages (plan shows
                              SortMergeJoin(skew=true)) — the model
                              of a 100 TB hot partition
  salted (8 buckets)        — operators.joins.salted_join: the hot
                              key spread across 8 tasks at plan time

The join runs as the RESULT stage (non-pushable always-false filter):
AQE's skew split only applies there — a downstream same-key shuffle
suppresses it (pinned in tests/test_aqe_skew.py). Maintains the
SCALING.md §skew section via tools/_shared.replace_section.

Usage: python tools/skew_probe.py [n_rows]
       python tools/skew_probe.py --basket [n_orders]

--basket runs the skewed-BASKET variant backing
``cooccurrence_part_pairs_salted``: a self-join pair-generation
workload where one mega-order holds 2,000 distinct parts
(C(2000,2) ≈ 2M pairs from ONE key) among n_orders normal 5-item
orders. It reports the per-task pair-output histogram for the
unsalted self-join vs salted_join(salt_buckets=8), plus an exceptAll
semantic-equality check on the aggregated pair counts.
"""

from __future__ import annotations

import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from lmo_data_catalog_spark.operators.joins import salted_join  # noqa: E402


def task_histogram(df) -> dict[str, int]:
    """Join-output rows per shuffle task (spark_partition_id of the
    post-join partitioning = the task that processed those rows)."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    counts = sorted((r["count"] for r in rows), reverse=True)
    total = sum(counts)
    return {
        "tasks": len(counts),
        "max": counts[0],
        "p50": counts[len(counts) // 2],
        "max_share_pct": round(100.0 * counts[0] / total, 1),
    }


def basket_main() -> None:
    """Skewed-basket self-join probe (cooccurrence_part_pairs_salted)."""
    args = [a for a in sys.argv[1:] if a != "--basket"]
    n_orders = int(args[0]) if args else 200_000
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("basket_skew_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # order 0 is the mega-basket: 2,000 distinct parts; every other
    # order holds 5 parts.  Distinct (orderkey, partkey) rows.
    mega = spark.range(2_000).select(
        F.lit(0).alias("l_orderkey"), F.col("id").alias("l_partkey")
    )
    normal = spark.range(n_orders * 5).select(
        ((F.col("id") % n_orders) + 1).alias("l_orderkey"),
        ((F.col("id") / n_orders).cast("long") * 10_000 + F.col("id") % 97)
        .alias("l_partkey"),
    ).distinct()
    li = mega.unionByName(normal)
    a = li.toDF("l_orderkey", "part_a")
    b = li.toDF("l_orderkey", "part_b")

    def pairs_plain():
        return a.join(b, on="l_orderkey").filter(
            F.col("part_a") < F.col("part_b")
        )

    def pairs_salted():
        return salted_join(a, b, on=["l_orderkey"], salt_buckets=8).filter(
            F.col("part_a") < F.col("part_b")
        )

    def timed(df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    for label, build in [("unsalted", pairs_plain), ("salted_8", pairs_salted)]:
        wall = min(timed(build()), timed(build()))
        hist = task_histogram(build())
        print(f"{label:10s} {dict(hist, wall_s=round(wall, 2))}")

    agg = lambda df: (  # noqa: E731
        df.groupBy("part_a", "part_b").count()
    )
    diff = agg(pairs_plain()).exceptAll(agg(pairs_salted())).count()
    diff += agg(pairs_salted()).exceptAll(agg(pairs_plain())).count()
    print(f"semantic_diff_rows: {diff} (must be 0)")
    spark.stop()


def _rest(url: str):
    import json
    import urllib.request

    return json.load(urllib.request.urlopen(url))


def _app_url(spark) -> str:
    ui = spark.sparkContext.uiWebUrl
    app = _rest(f"{ui}/api/v1/applications")[0]["id"]
    return f"{ui}/api/v1/applications/{app}"


def _stage_ids(spark) -> set[int]:
    return {s["stageId"] for s in _rest(f"{_app_url(spark)}/stages")}


def join_stage_task_stats(spark, before_ids: set[int]) -> dict:
    """Per-TASK shuffle-read record distribution of the heaviest new
    shuffle-reading stage (= the join stage), from the UI REST API —
    the ground-truth per-task load, unlike a spark_partition_id
    histogram, which needs an extra operator above the join and
    thereby suppresses the AQE skew split it is trying to observe."""
    base = _app_url(spark)
    stages = [
        s
        for s in _rest(f"{base}/stages?status=COMPLETE")
        if s["stageId"] not in before_ids
        and s.get("shuffleReadRecords", 0) > 0
    ]
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
    total = sum(recs) or 1
    return {
        "tasks": len(recs),
        "max": recs[0],
        "p50": recs[len(recs) // 2],
        "max_share_pct": round(100.0 * recs[0] / total, 1),
    }


#: AQE skew knobs scaled so the probe's ~32 MB hot partition trips
#: the same machinery a multi-GB partition would trip at defaults
#: (skewedPartitionThresholdInBytes defaults to 256 MB — sized for
#: real clusters, so at probe scale the default config never splits;
#: the tuned row is the faithful model of a 100 TB deployment).
_SKEW_TUNED = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
}


def main() -> None:
    if "--basket" in sys.argv:
        basket_main()
        return
    import os

    from tools._shared import replace_section

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("skew_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "true")  # REST task metrics
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # key 0 holds 50% of rows; keys 1..99 share the rest uniformly
    left = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise((F.col("id") % 99) + 1)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim")
    )

    def run(build):
        """Execute the join as the RESULT stage (a non-pushable
        always-false filter forces full execution with zero collect
        traffic and leaves the AQE skew split applicable) and return
        (wall_s, per-task stats, skew_split_engaged)."""
        df = build().filter(F.col("v") + F.col("dim") < -1)
        df.collect()  # warm (codegen, file listing)
        before = _stage_ids(spark)
        t0 = time.time()
        df2 = build().filter(F.col("v") + F.col("dim") < -1)
        df2.collect()
        wall = time.time() - t0
        plan = df2._jdf.queryExecution().executedPlan().toString()
        stats = join_stage_task_stats(spark, before)
        return wall, stats, "skew=true" in plan

    variants = [
        (
            "unsalted, AQE off",
            {"spark.sql.adaptive.enabled": "false"},
            lambda: left.join(right, on=["k"]),
        ),
        (
            "unsalted, AQE on (default thresholds)",
            {"spark.sql.adaptive.enabled": "true"},
            lambda: left.join(right, on=["k"]),
        ),
        (
            "unsalted, AQE on (skew-tuned)",
            {"spark.sql.adaptive.enabled": "true", **_SKEW_TUNED},
            lambda: left.join(right, on=["k"]),
        ),
        (
            "salted x8 (`salted_join`), AQE off",
            {"spark.sql.adaptive.enabled": "false"},
            lambda: salted_join(left, right, on=["k"], salt_buckets=8),
        ),
    ]
    results = []
    for label, confs, build in variants:
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            wall, stats, skewed = run(build)
        finally:
            for k, v in prev.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)
        results.append((label, stats, skewed, wall))
        print(label, stats, {"skew_split": skewed, "wall_s": round(wall, 2)})

    # sanity: salted result must equal unsalted result exactly
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    plain = left.join(right, on=["k"])
    salted = salted_join(left, right, on=["k"], salt_buckets=8)
    diff = plain.exceptAll(salted.select(*plain.columns)).count()
    diff += salted.select(*plain.columns).exceptAll(plain).count()
    print(f"semantic_diff_rows: {diff} (must be 0)")

    load1 = os.getloadavg()[0]
    lines = [
        "## Skew: salting vs AQE runtime split, measured end-to-end",
        "",
        f"`tools/skew_probe.py` ({n // 1_000_000}M rows, hot key = 50% of"
        " the fact side,",
        "100-key dim, broadcast disabled — the regime where skew bites).",
        "Per-TASK shuffle-read records of the join stage from the UI REST",
        "API (ground truth: measuring via `spark_partition_id` needs an",
        "operator above the join, which suppresses the very AQE split",
        f"under test); load1 {load1:.1f}, wall best-after-warm:",
        "",
        "| plan | join tasks | max recs/task | p50 recs/task "
        "| hot-task share | AQE skew split | wall (s) |",
        "|---|---|---|---|---|---|---|",
    ]
    for label, st, skewed, wall in results:
        lines.append(
            f"| {label} | {st['tasks']} | {st['max']:,} | {st['p50']:,} "
            f"| {st['max_share_pct']}% | {'YES' if skewed else 'no'} "
            f"| {wall:.2f} |"
        )
    lines += [
        "",
        "Reading: at DEFAULT thresholds (256 MB) the probe's ~32 MB hot",
        "partition never trips the split — the tuned row (1 MB threshold)",
        "is the faithful model of a 100 TB deployment where the hot",
        "partition dwarfs 256 MB. When it engages, AQE splits the",
        "straggler into advisory-sized slices — potentially FINER than",
        "fixed-bucket salting, since the slice count follows partition",
        "bytes / advisory size rather than a bucket count chosen at",
        "write time — with no query rewrite.",
        "Guidance — when salting still beats AQE: (a) the join feeds a",
        "same-key aggregate/window — the split is suppressed because it",
        "would break the reusable hash partitioning (pinned in",
        "tests/test_aqe_skew.py::...suppressed_by_downstream_shuffle);",
        "(b) skew in PAIR-GENERATING self-joins, where the explosion",
        "happens after the shuffle read so balanced input blocks still",
        "yield an unbalanced output (the basket probe below); (c) known",
        "build-time skew where deterministic layout beats reactive",
        "splitting. Otherwise prefer AQE: zero rewrite, and it composes",
        "with `spark.sql.adaptive.forceOptimizeSkewedJoin` for the",
        "extra-shuffle case. Both are semantics-free (`exceptAll` zero",
        "both directions; AQE-vs-salted-vs-plain equality pinned in",
        "tests/test_aqe_skew.py).",
        "",
    ]
    # migrate the pre-AQE section title in place, then maintain the
    # new one (replace_section appends when the title is absent, so
    # blindly calling it under the old title would duplicate)
    from tools._shared import SCALING

    with open(SCALING) as fh:
        text = fh.read()
    old_title = "## Skew: salting measured end-to-end"
    new_title = "## Skew: salting vs AQE runtime split, measured end-to-end"
    if old_title in text:
        with open(SCALING, "w") as fh:
            fh.write(text.replace(old_title, new_title, 1))
    replace_section(
        "Skew: salting vs AQE runtime split, measured end-to-end",
        "\n".join(lines),
    )
    print("SCALING.md updated")
    spark.stop()


if __name__ == "__main__":
    main()
