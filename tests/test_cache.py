"""Lifetime contract of ``lmo_data_catalog_spark/cache.py``: what an
iterative builder checkpoints is gone from the executors as soon as
``cache.release_all()`` returns, and no module can checkpoint around
the contract.

A local checkpoint's blocks belong to its RDD, not to Spark's
CacheManager, so ``DataFrame.unpersist()`` leaves them in place; only
the ContextCleaner would free them, whenever the JVM collects the RDD.
The test therefore reads ``getPersistentRDDs()`` right after the
release, with no GC wait.
"""

from __future__ import annotations

import os
import re

import pytest

from lmo_data_catalog_spark import cache
from lmo_data_catalog_spark.registry import REGISTRY

from .conftest import SF_SMOKE

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lmo_data_catalog_spark",
)


@pytest.mark.parametrize(
    "name",
    [
        "kcore_parts_graph",
        "kcore_parts_graph_hubsafe",
        "neardup_cluster_ids",
        "pagerank_dangling_part_supplier",
    ],
)
def test_release_all_frees_every_checkpoint(spark, name):
    jsc = spark.sparkContext._jsc
    cache.release_all()
    first_id = jsc.emptyRDD().id()  # every RDD made below has a larger id
    df = REGISTRY[name].builder(spark, SF_SMOKE)
    df.write.format("noop").mode("overwrite").save()
    cache.release_all()
    left = sorted(i for i in jsc.getPersistentRDDs().keySet() if i > first_id)
    assert left == [], f"{name}: RDDs {left} still persisted after release_all"


def test_release_frees_one_checkpoint_and_is_idempotent(spark):
    jsc = spark.sparkContext._jsc
    cache.release_all()
    df = cache.checkpoint(spark.range(100))
    assert df.count() == 100
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id in set(jsc.getPersistentRDDs().keySet())
    cache.release(df)
    assert rdd_id not in set(jsc.getPersistentRDDs().keySet())
    cache.release(df)  # no longer held: a no-op
    assert cache.release_all() == 0


def test_releasing_an_unmaterialized_checkpoint_keeps_it_usable(spark):
    """Before its first action a checkpoint has stored nothing, so
    releasing it frees nothing and the frame still answers. It stays
    pending: the next release frees what that action stored, without
    counting the frame twice."""
    from pyspark.sql import functions as F

    jsc = spark.sparkContext._jsc
    cache.release_all()
    df = cache.checkpoint(
        spark.range(1000).groupBy((F.col("id") % 97).alias("g")).count()
    )
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    assert cache.release_all() == 1
    assert df.count() == 97
    assert rdd_id in set(jsc.getPersistentRDDs().keySet())
    assert cache.release_all() == 0
    assert rdd_id not in set(jsc.getPersistentRDDs().keySet())
    assert cache.release_all() == 0


def test_materialize_stores_and_counts_in_one_job(spark):
    """``cache.materialize`` returns the row count from the job that
    stores the checkpoint: one Spark job for a map-only frame, where a
    checkpoint then ``DataFrame.count()`` takes two. The frame reads
    the stored blocks afterwards and is released like any checkpoint."""
    jsc = spark.sparkContext._jsc
    dag = jsc.sc().dagScheduler()
    cache.release_all()
    before = dag.nextJobId()
    df, rows = cache.materialize(spark.range(1000).filter("id % 3 = 0"))
    assert (rows, dag.nextJobId() - before) == (334, 1)
    rdd = df._jdf.queryExecution().analyzed().rdd()
    assert rdd.isCheckpointed()
    assert rdd.id() in set(jsc.getPersistentRDDs().keySet())
    assert df.count() == 334
    cache.release(df)
    assert rdd.id() not in set(jsc.getPersistentRDDs().keySet())


def test_only_cache_module_checkpoints():
    """Every checkpoint goes through ``cache.checkpoint``, so an
    unreleasable one cannot be added without this test going red."""
    assert not hasattr(cache, "register")
    bad = []
    for root, _, files in os.walk(PACKAGE):
        for fn in files:
            rel = os.path.relpath(os.path.join(root, fn), PACKAGE)
            if not fn.endswith(".py") or rel == "cache.py":
                continue
            with open(os.path.join(PACKAGE, rel), encoding="utf-8") as fh:
                text = fh.read()
            if ".localCheckpoint(" in text or re.search(r"\bcache\.register\b", text):
                bad.append(rel)
    assert bad == [], f"checkpoint outside cache.checkpoint in: {bad}"
