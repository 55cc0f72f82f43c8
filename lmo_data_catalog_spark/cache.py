"""Caching contract for shared intermediates and iterative state.

Several operators (MinHash/SimHash/winnowing dedup, IVF ANN)
``persist()`` an intermediate that two or more downstream branches of
the same plan consume — without it the expensive upstream (shingling,
signature hashing) re-executes once per branch. Those persists are
intentional and stay pinned until the caller releases them: Spark has
no "unpersist once my consumers are materialized" hook, and
unpersisting eagerly would silently recompute.

Contract: every operator-level persist goes through :func:`track`,
every lineage-truncating checkpoint through :func:`checkpoint`, and
long-lived sessions (notebooks, services) call :func:`release_all`
between logical units of work. ``bench.py`` does this between queries.
One-shot jobs can ignore it — executor caches die with the session.
A scratch directory that a returned lazy frame still reads (a
builder's on-disk index) goes through :func:`register_dir`, so the
same :func:`release_all` removes it once the caller's action is done.
Iterative operators run their rounds through :func:`converge`, which
frees each superseded round as soon as nothing lazy reads it.

A builder that needs a checkpoint's row count right away calls
:func:`materialize`, which checkpoints and counts the checkpoint's own
RDD. That count adds no aggregate and no exchange; ``DataFrame.count()``
on the checkpoint plans both, and AQE runs them as a job of their own.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame

#: STRONG references, each with the call that frees its storage: with
#: weakrefs (r14) a builder's frames died when it returned, release_all
#: freed nothing, and later passes planned against the leaked
#: InMemoryRelations instead of recomputing from the inputs.
#: Each call returns whether the storage is gone.
_HELD: list[tuple[DataFrame, Callable[[], bool]]] = []
#: released checkpoints that no action had stored yet: the next action
#: stores their blocks, so every later release retries them
_PENDING: list[tuple[DataFrame, Callable[[], bool]]] = []
_DIRS: list[str] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_all`."""
    df = df.persist()

    def free() -> bool:
        df.unpersist()
        return True

    _HELD.append((df, free))
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Lazily ``localCheckpoint`` ``df`` (lineage truncated; the first
    action materializes it) and register it for :func:`release` and
    :func:`release_all`. Its blocks belong to the checkpoint RDD, not
    to the CacheManager, so ``DataFrame.unpersist()`` would leave them
    until the JVM collects the RDD: releasing unpersists the RDD."""
    return _checkpoint(df)[0]


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """:func:`checkpoint` ``df`` and materialize it now; returns
    ``(frame, rows)``. The count runs on the checkpoint RDD itself, so
    the job that computes and stores its blocks also counts them: a
    map-only frame takes 1 Spark job, where a checkpoint followed by
    ``DataFrame.count()`` takes 2."""
    df, rdd = _checkpoint(df)
    return df, rdd.count()


def _checkpoint(df: DataFrame) -> tuple[DataFrame, object]:
    df = df.localCheckpoint(eager=False)
    rdd = df._jdf.queryExecution().analyzed().rdd()

    def free() -> bool:
        # Nothing is stored before the first action, and unpersisting
        # then would drop the storage level the checkpoint still needs.
        # isCheckpointed() alone is not enough: an RDD that only an AQE
        # shuffle-map stage has read holds its blocks but is unmarked.
        if rdd.isCheckpointed() or _stores_blocks(df, rdd):
            rdd.unpersist(False)
            return True
        return False

    _HELD.append((df, free))
    return df, rdd


def _stores_blocks(df: DataFrame, rdd) -> bool:
    """Whether any partition of ``rdd`` is in a block manager."""
    master = rdd.context().env().blockManager().master()
    block_id = df.sparkSession._jvm.org.apache.spark.storage.RDDBlockId
    return any(
        master.contains(block_id(rdd.id(), p))
        for p in range(rdd.getNumPartitions())
    )


def release(df: DataFrame | None) -> None:
    """Free ``df``'s storage now if it was registered by :func:`track`
    or :func:`checkpoint`; a no-op for any other frame. Only call it
    once nothing lazy still reads ``df``: a released checkpoint's
    blocks are gone for good. A checkpoint that has stored nothing yet
    stays pending, and a later release frees what its next action
    stores."""
    for entries in (_HELD, _PENDING):
        for i, entry in enumerate(entries):
            if entry[0] is df:
                del entries[i]
                _free(entry)
                return


def _free(entry: tuple[DataFrame, Callable[[], bool]]) -> None:
    """Run ``entry``'s free call; keep it pending if nothing was stored."""
    if not entry[1]():
        _PENDING.append(entry)


def converge(
    first: DataFrame,
    step: Callable[[DataFrame], tuple[DataFrame, bool]],
    *,
    max_rounds: int,
    what: str,
) -> tuple[DataFrame, int]:
    """Drive an iterative operator from ``first`` to its fixpoint;
    returns ``(frame, rounds)``. ``step(frame)`` returns ``(next,
    done)`` and runs one Spark action over ``frame``, which
    materializes it — so the round before ``frame`` backs nothing lazy
    any more and is released. A ``next`` returned with ``done`` must be
    materialized too; ``frame`` is then released unless returned
    unchanged. Raises ``RuntimeError`` after ``max_rounds`` rounds
    without ``done``: a truncated iteration never passes for the
    fixpoint."""
    prev, cur = None, first
    for rounds in range(1, max_rounds + 1):
        nxt, done = step(cur)
        release(prev)
        if done:
            if nxt is not cur:
                release(cur)
            return nxt, rounds
        prev, cur = cur, nxt
    raise RuntimeError(f"{what} did not converge in {max_rounds} rounds")


def register_dir(path: str) -> str:
    """Register a scratch directory for :func:`release_all` to delete;
    returns ``path``. Frames built on it stay readable until then."""
    _DIRS.append(path)
    return path


def release_all() -> int:
    """Free every tracked frame and checkpoint and delete every
    registered directory; returns the number of frames released.
    Pending checkpoints (see :func:`release`) are retried, not counted
    again."""
    held, pending = _HELD[:], _PENDING[:]
    _HELD.clear()
    _PENDING.clear()
    released = 0
    for n, entry in enumerate(held + pending):
        try:
            _free(entry)
        except Exception:  # session already stopped — nothing to free
            continue
        released += n < len(held)
    for path in _DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _DIRS.clear()
    return released
