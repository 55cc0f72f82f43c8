"""SparkSession builder tuned for the engine.

Scale notes (100 TB design point):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- ``spark.sql.shuffle.partitions`` is a *ceiling*; AQE coalesces down.
  On a 1000-executor cluster this should be ~2-3x total cores; here we
  default to 32 for local[32].
- Arrow enabled so any pandas-UDF escape hatch is vectorized.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are reproducible across clusters.
- Driver heap scales with the executor-thread count (192 MB/core,
  2g floor, ``SPARK_GRAFT_DRIVER_MEM`` to override): in local mode
  the driver JVM hosts every executor thread, so per-task execution
  memory is heap-fraction / cores — a fixed heap starves wide
  local[N]. The old fixed-2g default was measured best under the
  pre-r14 cache-leak protocol (2g 51 s / 4g 59 s / 12g 111 s, 91
  cache-read-heavy queries, where extra heap only bought GC pauses);
  under the honest recompute protocol at local[32] a 17-query slow
  subset measures 2g 47.2/53.9 s vs 6g 43.4/42.0 s vs 12g 52.7 s —
  spill relief beats GC cost up to ~6g, then G1 young-gen pauses win
  again (r15; ParallelGC at 6g was a wash at 43.6 s). 192 MB/core
  lands 8 cores at the 2g floor (the driver's low-core scaling run
  keeps its old config) and 32 cores at 6g. On a real cluster use
  executor memory settings instead (this knob only matters for
  local mode, where it IS the executor memory).

:func:`run_concurrently` runs independent Spark actions side by side
from driver threads: a catalog-sized job of 1-2 tasks leaves most task
slots idle, so its time is the per-job floor, which overlaps.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")


def get_spark(
    app_name: str = "lmo_data_catalog_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_threads = int(cpus) if str(cpus).isdigit() else (os.cpu_count() or 8)
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(2048, 192 * n_threads)}m"
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark 4's Python call-site origin tracking wraps EVERY
        # Column/DataFrame method: a conf.get + reflection getattr +
        # PySparkCurrentOrigin.set/clear per call — measured 48.5 py4j
        # commands / 3.25 ms for (col+1)*2 vs 4.0 commands / 0.77 ms
        # with it off (r15, this host). It only enriches error
        # messages with Python line numbers; plans/results unchanged.
        # The suite profile attributes 69 s of 181 s to driver-side
        # plan construction, so this is the single biggest boundary
        # lever (guide §4).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_concurrently(
    spark: SparkSession, calls: Mapping[str, Callable[[], T]]
) -> dict[str, T]:
    """Run independent zero-arg thunks on driver threads; return name →
    result in ``calls`` order.

    The pool has ``min(len(calls), defaultParallelism)`` threads: more
    would only queue jobs for task slots that are all busy. Each thunk
    is wrapped by its own ``inheritable_thread_target(spark)`` call, so
    its thread starts from its own clone of the caller's local
    properties (job group, scheduler pool) and session tags; one shared
    clone would let a thread's ``setJobGroup`` leak into the others.
    Every thunk runs to the end; then the first failure in ``calls``
    order is re-raised.
    """
    workers = min(len(calls), spark.sparkContext.defaultParallelism) or 1
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(thunk))
            for name, thunk in calls.items()
        }
    return {name: f.result() for name, f in futures.items()}
