"""Caching contract for shared intermediates.

Several operators (MinHash/SimHash/winnowing dedup, IVF ANN)
``persist()`` an intermediate that two or more downstream branches of
the same plan consume — without it the expensive upstream (shingling,
signature hashing) re-executes once per branch. Those persists are
intentional and stay pinned until the caller releases them: Spark has
no "unpersist once my consumers are materialized" hook, and
unpersisting eagerly would silently recompute.

Contract: every operator-level persist goes through :func:`track`, and
long-lived sessions (notebooks, services) call :func:`release_all`
between logical units of work. ``bench.py`` does this between queries.
One-shot jobs can ignore it — executor caches die with the session.
A scratch directory that a returned lazy frame still reads (a
builder's on-disk index) goes through :func:`register_dir`, so the
same :func:`release_all` removes it once the caller's action is done.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame

#: STRONG references. r14 measurement fix: these were weakrefs, and a
#: builder's tracked frames are CPython-refcounted away the moment the
#: builder returns — so release_all() found only dead refs and freed
#: NOTHING (measured: released=0 on every bench query). Because
#: Spark's CacheManager keys entries by logical plan, the leak was
#: worse than memory growth: a later identical invocation of the same
#: query silently planned against the leaked InMemoryRelation, i.e.
#: the bench's timed passes reused the warm-up pass's persisted
#: intermediates instead of recomputing them. Strong refs make
#: release_all() actually release; bench.py now releases between
#: passes so every timed pass computes from the parquet inputs.
_TRACKED: list[DataFrame] = []
_DIRS: list[str] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_all`."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def register(df: DataFrame) -> DataFrame:
    """Register an ALREADY persisted/checkpointed frame for
    :func:`release_all` without re-persisting it — for frames whose
    storage the caller created some other way (``localCheckpoint``,
    an explicit non-default storage level) that must still be
    reclaimable between units of work (iterative operators' rank/
    label vectors, see operators/graph.py)."""
    _TRACKED.append(df)
    return df


def register_dir(path: str) -> str:
    """Register a scratch directory for :func:`release_all` to delete;
    returns ``path``. Frames built on it stay readable until then."""
    _DIRS.append(path)
    return path


def release_all() -> int:
    """Unpersist every tracked DataFrame and delete every registered
    directory; returns the number of frames released. Dropping the
    strong refs afterwards also lets the JVM ContextCleaner reclaim
    localCheckpoint RDD blocks (their storage is RDD-level, not
    CacheManager-level, so unpersist alone does not free them)."""
    released = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            released += 1
        except Exception:  # session already stopped — nothing to free
            pass
    _TRACKED.clear()
    for path in _DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _DIRS.clear()
    return released
