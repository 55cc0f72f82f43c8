"""AQE runtime skew-join evidence (SURVEY §7 E-e scale design).

Complements the plan-time salting strategy (operators/joins.py::
salted_join, measured in SCALING.md §skew): at 100 TB the FIRST
line of defense against a hot join key is Spark's own adaptive
skew-join split — no query rewrite, engaged at runtime from shuffle
statistics. These tests pin the two facts a deployment relies on:

1. the split actually engages on a skewed shuffle join (the executed
   plan carries ``SortMergeJoin(skew=true)`` / a ``skewed``
   AQEShuffleRead) once the skew thresholds see the hot partition;
2. the split is semantics-free — identical results to the AQE-off
   join and to ``salted_join`` on the same data.

Scope boundary (measured, not assumed — see SCALING §skew): the
split applies only when the join output feeds the result stage or a
non-distribution-requiring consumer; a downstream shuffle on the
join key suppresses it (Spark would have to re-shuffle), which is
exactly when explicit salting still earns its keep.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lmo_data_catalog_spark.operators.joins import salted_join

#: runtime-settable AQE knobs scaled down so a ~200k-row local
#: shuffle trips the same machinery a multi-GB partition would
_TUNED = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
}


def _skewed_frames(spark, n=200_000):
    """Hot key 0 owns half the fact rows; 99 cold keys share the rest."""
    left = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise((F.col("id") % 99) + 1)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim")
    )
    return left, right


def _with_confs(spark, confs):
    prev = {}
    for k, v in confs.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    return prev


def _restore(spark, prev):
    for k, v in prev.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_skew_split_engages_and_is_semantics_free(spark):
    left, right = _skewed_frames(spark)
    prev = _with_confs(spark, _TUNED)
    try:
        # the join must BE the result stage for the split to apply;
        # the non-pushable always-false filter forces full execution
        # without collecting 200k rows (predicate mixes both sides,
        # so it cannot push below the join)
        j = left.join(right, on=["k"]).filter(
            F.col("v") + F.col("dim") < -1
        )
        assert j.collect() == []
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE skew split did not engage:\n{plan}"
        assert "skewed" in plan  # the AQEShuffleRead annotation

        # semantics: AQE-split join == salted join == plain join
        agg = lambda df: (  # noqa: E731
            df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            .collect()
        )
        aqe_rows = sorted(map(tuple, agg(left.join(right, on=["k"]))))
        salted = sorted(
            map(
                tuple,
                agg(salted_join(left, right, on=["k"], salt_buckets=8)),
            )
        )
    finally:
        _restore(spark, prev)
    plain = sorted(
        map(tuple, agg(left.join(right, on=["k"])))
    )  # default confs (broadcast allowed — semantics identical)
    assert aqe_rows == plain == salted


def test_aqe_skew_split_suppressed_by_downstream_shuffle(spark):
    """The documented boundary: a groupBy on the join key right above
    the join suppresses the split (splitting would break the
    hash-partitioning the aggregate reuses) — the regime where
    explicit salting is still the only lever."""
    left, right = _skewed_frames(spark)
    prev = _with_confs(spark, _TUNED)
    try:
        g = (
            left.join(right, on=["k"])
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        g.collect()
        plan = g._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" not in plan
    finally:
        _restore(spark, prev)
