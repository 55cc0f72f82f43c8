"""Salted-join correctness (SURVEY §7 E-e skew design): on a
deliberately skewed dataset (one key holds ~half the rows), the
salted join must return exactly the plain join's result, and the salt
must actually spread the hot key across buckets.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lmo_data_catalog_spark.operators.joins import salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # 5000 rows, key 0 holds ~50%; dimension of 10 keys
    left = spark.range(5000).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise((F.col("id") % 9) + 1)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim")
    )
    return left, right


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_equals_plain(skewed):
    left, right = skewed
    plain = left.join(right, on=["k"])
    salted = salted_join(left, right, on=["k"], salt_buckets=8)
    assert _sorted(salted.select(*plain.columns)) == _sorted(plain)


def _hot(left, threshold):
    """Keys with more than ``threshold`` left rows — the per-key count
    a caller passes as ``hot``."""
    return left.groupBy("k").count().filter(F.col("count") > threshold)


def test_salted_left_keeps_unmatched(skewed):
    """Blanket and hot-key forms: a cold or unmatched left row meets
    bucket 0 once, so left joins keep every left row exactly once."""
    left, right = skewed
    r_partial = right.filter(F.col("k") <= 4)
    plain = left.join(r_partial, on=["k"], how="left")
    for hot in (None, _hot(left, 1000)):
        salted = salted_join(
            left, r_partial, on=["k"], salt_buckets=8, hot=hot, how="left"
        )
        assert _sorted(salted.select(*plain.columns)) == _sorted(plain)


def test_salt_spreads_hot_key(skewed, spark):
    left, _ = skewed
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
    spread = (
        left.filter(F.col("k") == 0)
        .select(salt.alias("s"))
        .groupBy("s")
        .count()
        .collect()
    )
    assert len(spread) == 8  # hot key occupies every salt bucket
    counts = [r["count"] for r in spread]
    assert max(counts) < 2 * min(counts)  # roughly uniform


def test_salted_join_rejects_unsupported_how(skewed):
    left, right = skewed
    with pytest.raises(ValueError):
        salted_join(left, right, on=["k"], how="full")


def test_blanket_plan_folds_to_one_join(spark):
    """``hot=None`` is the blanket form: the literal hot flag must fold
    away, leaving one join and no CASE WHEN in the optimized plan."""
    left = spark.range(100).select((F.col("id") % 7).alias("k"), "id")
    right = spark.range(7).select(F.col("id").alias("k"))
    plan = (
        salted_join(left, right, on=["k"], salt_buckets=8, hot=None)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "CASE WHEN" not in plan
    assert plan.count("Join ") == 1


# ------------------------------------ hybrid (hot-key-only) salting: hot=


def test_hybrid_inner_equals_plain(skewed):
    """Hot keys salted, cold keys in bucket 0 — result must still be
    exactly the plain inner join (hot key 0 crosses the threshold,
    keys 1-9 do not)."""
    left, right = skewed
    plain = left.join(right, on=["k"])
    hot = salted_join(
        left, right, on=["k"], salt_buckets=8, hot=_hot(left, 1000)
    )
    assert _sorted(hot.select(*plain.columns)) == _sorted(plain)


def test_hybrid_no_hot_keys_no_replication(skewed):
    """With every key under the threshold the hot set is empty and the
    right side must NOT be replicated: the joined rows equal the plain
    join's (each cold right row carries salt 0 once)."""
    left, right = skewed
    plain = left.join(right, on=["k"])
    # threshold above the hot key's ~2500 rows: nothing is hot
    hot = salted_join(
        left, right, on=["k"], salt_buckets=8, hot=_hot(left, 10_000)
    )
    assert _sorted(hot.select(*plain.columns)) == _sorted(plain)


def test_hybrid_self_join_pair_counts(spark):
    """The miners' shape: distinct (order, item) self-join with one
    mega-order — hot-key pair supports must equal the plain join's."""
    li = spark.range(600).select(
        F.when(F.col("id") < 200, 0)
        .otherwise((F.col("id") % 40) + 1)
        .alias("o"),
        F.col("id").alias("p"),
    )
    a = li.toDF("o", "pa")
    b = li.toDF("o", "pb")
    hot = li.groupBy("o").count().filter(F.col("count") > 50)
    plain = (
        a.join(b, on="o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .count()
    )
    salted = (
        salted_join(a, b, on=["o"], salt_buckets=8, hot=hot)
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .count()
    )
    assert _sorted(salted) == _sorted(plain)


def test_hybrid_rejects_unsupported_how(skewed):
    left, right = skewed
    with pytest.raises(ValueError):
        salted_join(left, right, on=["k"], hot=_hot(left, 1000), how="full")


def test_hybrid_property_random_skew(spark):
    """Property-style sweep: random key distributions x thresholds x
    bucket counts — the hot-key form must equal the plain inner join
    on every draw (deterministic seeds, no hypothesis dependency
    needed for a Spark fixture test)."""
    import random

    for seed in (3, 17, 92):
        rng = random.Random(seed)
        n_keys = rng.randint(2, 12)
        rows = []
        for i in range(rng.randint(50, 400)):
            # zipf-ish: low keys much hotter
            k = min(int(rng.paretovariate(1.1)) - 1, n_keys - 1)
            rows.append((k, i))
        left = spark.createDataFrame(rows, "k int, v long")
        right = spark.createDataFrame(
            [(k, k * 7) for k in range(n_keys)], "k int, dim long"
        )
        plain = left.join(right, on=["k"])
        salted = salted_join(
            left,
            right,
            on=["k"],
            salt_buckets=rng.choice([2, 4, 8]),
            hot=_hot(left, rng.choice([1, 10, 100])),
        )
        assert _sorted(salted.select(*plain.columns)) == _sorted(plain), seed
