"""Substring-dedup fingerprint-mode shuffle probe (r10 verdict #2).

Measures what the md5-fingerprint gram key actually saves: runs
``dup_substring_runs`` (exact gram-string key) and
``dup_substring_runs_fp`` (16-byte ``unhex(md5(g))`` key, gram
projected away before the Exchange) over a replicated corpus and
reports, from the Spark UI REST API, the gram-window stage's shuffle
bytes plus wall clock. Replicas are token-tagged (same scheme as the
SCALING growth table) so cross-replica grams never collide and the
dup structure stays per-replica.

Usage: python tools/substr_fp_probe.py [n_replicas] [sf_dir]
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


def heaviest_shuffle_stage(spark, before_ids) -> dict:
    base = _app_url(spark)
    stages = [
        s
        for s in _rest(f"{base}/stages?status=COMPLETE")
        if s["stageId"] not in before_ids
        and s.get("shuffleReadBytes", 0) > 0
    ]
    if not stages:
        return {}
    s = max(stages, key=lambda s: s["shuffleReadBytes"])
    return {
        "stage": s["stageId"],
        "shuffle_read_mb": round(s["shuffleReadBytes"] / 1e6, 1),
        "shuffle_read_records": s.get("shuffleReadRecords", 0),
    }


def main() -> None:
    n_rep = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("substr_fp_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = [
        docs.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            F.regexp_replace(
                F.col("text"), r"(\S+)", rf"$1r{i}"
            ).alias("text"),
            "lang",
        )
        for i in range(n_rep)
    ]
    big = reps[0]
    for r in reps[1:]:
        big = big.unionByName(r)
    big.write.mode("overwrite").parquet("/tmp/substr_fp_docs/documents.parquet")
    n = spark.read.parquet("/tmp/substr_fp_docs/documents.parquet").count()
    print(f"corpus: {n} docs ({n_rep} tagged replicas of {sf_dir})")

    from lmo_data_catalog_spark.queries.pipeline import _substr_runs

    results = {}
    for label, fp in (("exact-string", False), ("md5-fp", True)):
        for attempt in range(2):  # warm-up + measured
            before = _stage_ids(spark)
            t0 = time.time()
            out = _substr_runs(spark, "/tmp/substr_fp_docs", fingerprint=fp)
            n_rows = out.count()
            wall = time.time() - t0
        stats = heaviest_shuffle_stage(spark, before)
        results[label] = (wall, n_rows, stats)
        print(f"{label}: wall {wall:.2f}s, {n_rows} rows, "
              f"gram-window stage {stats}")

    ex, fp_ = results["exact-string"], results["md5-fp"]
    if ex[2] and fp_[2]:
        ratio = ex[2]["shuffle_read_mb"] / max(fp_[2]["shuffle_read_mb"], 0.1)
        print(f"shuffle-bytes ratio exact/fp: {ratio:.2f}x; "
              f"wall ratio {ex[0] / max(fp_[0], 0.01):.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
