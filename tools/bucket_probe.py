"""Bucketed-layout contract, end-to-end: pay the shuffle at write
time, never again per query.

Writes the distinct (l_orderkey, l_partkey) basket table and orders
bucketed by orderkey into the session warehouse, then runs two
registry-shaped plans against BOTH layouts:

  cooccur  — the `cooccurrence_part_pairs` self-join pair generation
  factjoin — the orders ⨝ lineitem fact join (broadcast disabled,
             the `join_inner_broadcast` shape at fact-to-fact scale)
  dedup    — `jaccard_on_pairs`' exact-verify stage over shingles
             derived from documents bucketed by doc_id (r5 judge
             item): the id-keyed joins/aggregates (sizes groupBy,
             pairs⨝sh_a, n_a/n_b attaches) read the bucketed
             distribution straight through tokenize+explode — only
             the inherently (id_b, shingle)-keyed join still
             shuffles, which no doc_id layout can elide

For each it archives the formatted physical plan to
explains/bucketed_<name>_{flat,bucketed}.txt, prints the Exchange
count in each (bucketed must be 0 on the join input side), asserts
the two layouts return identical results, and prints warm wall
times. SCALING.md §bucketed holds the measured table.

Usage: python tools/bucket_probe.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
import time
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

EXPLAINS = Path(ROOT) / "explains"


def exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange hashpartitioning", plan))


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def timed(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("bucket_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    basket = li.select("l_orderkey", "l_partkey").distinct()

    for t in ("bk_basket", "bk_orders", "bk_lineitem", "bk_documents"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    # The one-time write-side shuffle the layout amortizes:
    basket.write.bucketBy(16, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("bk_basket")
    orders.write.bucketBy(16, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("bk_orders")
    li.select("l_orderkey", "l_partkey", "l_quantity").write.bucketBy(
        16, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable("bk_lineitem")
    docs.write.bucketBy(16, "doc_id").sortBy("doc_id").mode(
        "overwrite"
    ).saveAsTable("bk_documents")

    def cooccur(src):
        a = src.toDF("l_orderkey", "part_a")
        b = src.toDF("l_orderkey", "part_b")
        return (
            a.join(b, on="l_orderkey")
            .filter(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    def factjoin(o, l):
        return (
            o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("qty"),
            )
        )

    # shared candidate pairs: the dedup case isolates the exact-verify
    # stage, so both layouts verify the SAME (id_a, id_b) set
    from lmo_data_catalog_spark.operators.dedup import (
        hashed_shingles,
        jaccard_on_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sh_flat = hashed_shingles(
        docs, id_col="doc_id", text_col="text", n=3
    ).toDF("id", "h")
    sig = minhash_signatures(sh_flat, id_col="id", n_hashes=64, seed=42)
    cand = lsh_candidate_pairs(sig, id_col="id", bands=16, rows=4).localCheckpoint()

    def dedup_verify(src):
        sh = hashed_shingles(
            src, id_col="doc_id", text_col="text", n=3
        ).toDF("id", "h")
        return jaccard_on_pairs(cand, sh, id_col="id")

    cases = {
        "dedup": (
            dedup_verify(docs),
            dedup_verify(spark.table("bk_documents")),
            ["id_a", "id_b", "jaccard"],
        ),
        "cooccur": (
            cooccur(basket),
            cooccur(spark.table("bk_basket")),
            ["part_a", "part_b", "n_orders"],
        ),
        "factjoin": (
            factjoin(orders, li.select("l_orderkey", "l_quantity")),
            factjoin(
                spark.table("bk_orders"),
                spark.table("bk_lineitem"),
            ),
            ["o_orderpriority", "n", "qty"],
        ),
    }
    for name, (flat, bucketed, cols) in cases.items():
        for label, df in (("flat", flat), ("bucketed", bucketed)):
            (EXPLAINS / f"bucketed_{name}_{label}.txt").write_text(
                formatted(df)
            )
        ex_flat, ex_b = exchanges(flat), exchanges(bucketed)
        t_flat = min(timed(flat) for _ in range(2))
        t_b = min(timed(bucketed) for _ in range(2))
        a = {tuple(r) for r in flat.select(cols).collect()}
        b = {tuple(r) for r in bucketed.select(cols).collect()}
        assert a == b, f"{name}: layouts disagree"
        print(
            f"{name:9s} exchanges flat={ex_flat} bucketed={ex_b} "
            f"wall flat={t_flat:5.2f}s bucketed={t_b:5.2f}s "
            f"rows={len(a)}"
        )

    for t in ("bk_basket", "bk_orders", "bk_lineitem", "bk_documents"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.stop()


if __name__ == "__main__":
    main()
