"""Generate the sf1 scale axis (~10x sf0.1) for the r7 scaling probe.

/root/testdata is read-only and capped at sf0.1, so the decade-up
axis the round-6 verdict asked for is synthesized here: 10 key-shifted
copies of every sf0.1 fact table (copy 0 is the identity), written to
testdata_sf1/ in the checkout (gitignored). The DIFFERENTIAL gate is
data-agnostic — Spark and DuckDB read the same parquet — so this axis
is a valid correctness + scaling probe; the driver-provided sf dirs
remain the only inputs for the driver's own gates.

Upscale rules:
- region/nation: fixed dimensions, copied as-is.
- supplier/part/customer/orders/lineitem/events: every key column is
  shifted by copy_index * (max_key + 1), consistently across fact and
  dimension sides so all joins keep their selectivity; measures,
  dates and timestamps are untouched.
- documents: copies >= 1 salt every 3rd token with a copy tag, so
  NO trigram shingle survives across copies — near-dup structure is
  preserved within a copy and dead across copies (10 verbatim copies
  would turn every doc into a 10-clone and grow pair outputs
  quadratically, which is a different workload, not a bigger one).
- embeddings: copies >= 1 get fresh hash-derived vectors
  (uniform [-0.25, 0.25] per dim) — cross-copy cosine ~ N(0, 1/sqrt(64)),
  so ANN/GEMM outputs scale linearly too. vec_id 0-8 semantics
  (query vector + IVF seeds) stay intact in copy 0.

Usage: python tools/make_sf1.py [out_dir] [replicas]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "testdata_sf1")
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    from lmo_data_catalog_spark.session import get_spark

    spark = get_spark("make_sf1")
    os.makedirs(out, exist_ok=True)

    def load(name):
        return spark.read.parquet(f"{SRC}/{name}.parquet")

    def shift_of(df, col):
        return df.agg(F.max(col)).collect()[0][0] + 1

    def replicate(df, key_shifts: dict[str, int], mutate=None):
        """Union of `rep` copies; each key col k shifted by
        i * key_shifts[k]; `mutate(df, i)` applies copy-specific
        column rewrites (identity for copy 0)."""
        parts = []
        for i in range(rep):
            c = df
            for k, step in key_shifts.items():
                c = c.withColumn(k, (F.col(k) + F.lit(i * step)).cast(df.schema[k].dataType))
            if mutate is not None:
                c = mutate(c, i)
            parts.append(c)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    def write(df, name):
        """Single-FILE parquet per table, like the driver's testdata
        (DuckDB's read_parquet and the Catalog both expect
        <name>.parquet to be a file; Spark splits it by row group, so
        scan parallelism is unharmed)."""
        import glob
        import shutil

        tmp = f"{out}/_tmp_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        target = f"{out}/{name}.parquet"
        if os.path.isdir(target):
            shutil.rmtree(target)
        elif os.path.exists(target):
            os.unlink(target)
        shutil.move(part, target)
        shutil.rmtree(tmp)
        print(name, spark.read.parquet(target).count())

    # fixed dims
    for name in ("region", "nation"):
        write(load(name), name)

    sup = load("supplier")
    part = load("part")
    cust = load("customer")
    orders = load("orders")
    li = load("lineitem")
    ev = load("events")

    s_sup = shift_of(sup, "s_suppkey")
    s_part = shift_of(part, "p_partkey")
    s_cust = shift_of(cust, "c_custkey")
    s_ord = shift_of(orders, "o_orderkey")

    write(replicate(sup, {"s_suppkey": s_sup}), "supplier")
    write(replicate(part, {"p_partkey": s_part}), "part")
    write(replicate(cust, {"c_custkey": s_cust}), "customer")
    write(
        replicate(orders, {"o_orderkey": s_ord, "o_custkey": s_cust}),
        "orders",
    )
    write(
        replicate(
            li,
            {
                "l_orderkey": s_ord,
                "l_partkey": s_part,
                "l_suppkey": s_sup,
            },
        ),
        "lineitem",
    )

    s_evt = shift_of(ev, "event_id")
    s_usr = shift_of(ev, "user_id")
    write(
        replicate(ev, {"event_id": s_evt, "user_id": s_usr}), "events"
    )

    docs = load("documents")
    s_doc = shift_of(docs, "doc_id")

    def salt_text(df, i):
        if i == 0:
            return df
        toks = F.split(F.col("text"), r"\s+")
        salted = F.transform(
            toks,
            lambda t, j: F.when(
                j % 3 == 2, F.concat(t, F.lit(f"_r{i}"))
            ).otherwise(t),
        )
        return df.withColumn("text", F.concat_ws(" ", salted))

    write(replicate(docs, {"doc_id": s_doc}, mutate=salt_text), "documents")

    emb = load("embeddings")
    s_vec = shift_of(emb, "vec_id")

    def fresh_vectors(df, i):
        if i == 0:
            return df
        dims = F.sequence(F.lit(0), F.lit(63))
        vec = F.transform(
            dims,
            lambda d: (
                (
                    F.pmod(
                        F.xxhash64(F.col("vec_id"), d, F.lit(i)),
                        F.lit(2000001),
                    )
                    / F.lit(1000000.5)
                    - F.lit(1.0)
                )
                * F.lit(0.25)
            ).cast("float"),
        )
        return df.withColumn("embedding", vec)

    write(
        replicate(emb, {"vec_id": s_vec}, mutate=fresh_vectors),
        "embeddings",
    )
    print("sf1 written to", out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
