"""Streaming operators over the ``events`` table (SURVEY §2.8).

Reference status: none — the reference is an annual batch script
(01_source_me.R:1 "need to increment each year"). These operators are
the engine's extension surface for continuous feeds, built entirely on
Structured Streaming primitives: ``F.window`` / ``F.session_window``
tumbling/sliding/session aggregation, ``withWatermark`` late-data
bounds, watermarked ``dropDuplicates``, and
``applyInPandasWithState`` for custom per-key state.

Scale notes: windowed aggregations shuffle on (key, window) with
map-side partial aggregation; watermarks bound state size so a
1000-executor job holds only the open windows, not history. The file
source lists input once per trigger — at 100 TB the same code runs off
Kafka by swapping ``stream_events``'s reader, nothing downstream
changes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:
    import pandas as pd

#: explicit schema — streaming file sources cannot infer (and inference
#: double-scans in batch anyway). ``ts`` is declared per-call: the
#: driver testdata stores parquet TIMESTAMP(NANOS), which Spark reads
#: only as raw longs (``nanosAsLong``); normal feeds are µs timestamps.
def events_schema(*, ns_as_long: bool = False) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if ns_as_long else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


EVENTS_SCHEMA = events_schema()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet (file source; swap for
    Kafka in production — downstream operators are source-agnostic).

    FileStreamSource needs a directory basePath, so we point at the
    sf dir with a glob filter. The explicit stream schema is derived
    from a one-time batch footer read so the same code handles every
    testdata vintage: parquet TIMESTAMP(NANOS) (readable only as raw
    longs via ``nanosAsLong``, then integer-div'd to µs) and plain
    µs timestamps. Declaring the wrong type would not error: the
    reader would hand back raw µs longs and the ns→µs div would
    silently shift every event to 1970. NTZ µs files are declared as
    TIMESTAMP (not NTZ) because ``withWatermark`` rejects
    TIMESTAMP_NTZ event time — under this package's UTC session the
    reinterpretation preserves the wall clock exactly.
    """
    from ..catalog import _normalize_ns_timestamps

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    try:
        ts_type = spark.read.parquet(path).schema["ts"].dataType
        ns = isinstance(ts_type, LongType)
    except Exception as e:  # noqa: BLE001
        if "TIMESTAMP(NANOS" not in str(e):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ns = True
    raw = (
        spark.readStream.schema(events_schema(ns_as_long=ns))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    return _normalize_ns_timestamps(raw) if ns else raw


def tumbling_counts(
    events: DataFrame,
    *,
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-type tumbling-window event counts + value sums.

    Works identically on batch and stream frames; the watermark is a
    no-op in batch and bounds state in streaming.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    *,
    width: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def session_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows (gap-based, ``F.session_window``):
    sessions close after ``gap`` of inactivity; watermark lets the
    stream finalize them."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def dedup_events(
    events: DataFrame, *, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked exact dedup: state holds only keys newer than the
    watermark (vs unbounded state with plain ``dropDuplicates``)."""
    keys = keys or ["event_id"]
    ev = events.withWatermark("ts", watermark)
    return ev.dropDuplicatesWithinWatermark(keys) if ev.isStreaming else ev.dropDuplicates(keys)


# ------------------------------------------------ custom stateful operator

_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update_totals(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
    )


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful op (``applyInPandasWithState``): running per-user
    event count + value total, emitted on every trigger. The escape
    hatch for semantics windowed aggs can't express."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_running_totals_batch(events: DataFrame) -> DataFrame:
    """Batch oracle for :func:`user_running_totals_stream`'s final
    state: a plain aggregate (the stream's last update per user)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def incremental_parquet_sink(
    stream_df: DataFrame,
    path: str,
    *,
    checkpoint: str,
    await_termination: bool = True,
):
    """Incremental ETL landing via ``foreachBatch``: each micro-batch
    overwrites its own ``batch=<id>`` partition, so a replayed batch
    (failure/restart) rewrites the same directory instead of
    duplicating — idempotent sink semantics on top of the checkpoint's
    exactly-once offsets. Read the result back with a plain
    ``spark.read.parquet(path)`` (``batch`` appears as a partition
    column; drop it for consumers).
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/batch={batch_id}")

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def run_available_now(
    stream_df: DataFrame, *, output_mode: str, name: str
) -> DataFrame:
    """Execute a streaming frame to completion over existing input
    (``Trigger.AvailableNow``) into an in-memory table; returns the
    result as a batch frame. Test/backfill harness."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


# ------------------------------------------------ stream-stream interval join


def click_purchase_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to same-user
    clicks in the preceding ``horizon``.

    In streaming, BOTH sides carry a watermark and the join condition
    bounds event-time distance, so state for either side is evictable
    once the other side's watermark passes ``ts + horizon`` — without
    the time bound Spark would (correctly) refuse an inner
    stream-stream join as unbounded-state. Works identically on batch
    frames, where it plans as a plain range join.

    ``how="left_outer"`` additionally emits every un-attributed click
    with NULL purchase columns — but only once the watermark proves no
    match can still arrive (click_ts + horizon < watermark), so a
    finite AvailableNow run WITHHOLDS null rows for the freshest
    clicks: the stream's outer rows are a watermark-bounded prefix of
    the batch left join (pinned in tests/test_streaming.py). Matched
    rows still emit immediately.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond, how).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        F.round("purchase_value", 4).alias("purchase_value"),
    )


def incremental_agg_sink(
    stream_df: DataFrame,
    table_root: str,
    *,
    keys: list[str],
    specs: dict[str, tuple[str, ...]],
    checkpoint: str,
    state_keep_last: int | None = None,
    await_termination: bool = True,
):
    """Streaming materialized view: ``foreachBatch`` folds each
    micro-batch into a versioned aggregate state table
    (operators/incremental.py), so the view is maintained at O(batch)
    per trigger instead of recomputed — and every trigger publishes an
    atomic snapshot readers can time-travel.

    Exactly-once on top of at-least-once replay: every state commit
    persists the max applied micro-batch id as a table property
    (``stream_watermark``) IN the manifest it publishes — atomic with
    the data, carried forward by every later commit, and therefore
    immune to ``vacuum`` dropping old manifests (scanning history for
    per-batch operation tags was not: a replay after a vacuum that
    dropped its tag would double-count). A replayed micro-batch
    (failure between the state commit and the offset commit) sees
    ``batch_id <= watermark`` and becomes a no-op. Batch ids are
    monotone per checkpoint, so a single high-water mark suffices;
    legacy tables without the property fall back to the history-tag
    scan once and adopt the watermark on their next commit.
    """
    from ..operators.incremental import update_incremental_agg
    from ..sources.versioned import VersionedTable

    def watermark(table: VersionedTable) -> int:
        props = table.get_props()
        if "stream_watermark" in props:
            return int(props["stream_watermark"])
        wm = -1  # legacy fallback: pre-watermark history tags
        for h in table.history():
            op = h["operation"] or ""
            if op.startswith("stream-batch="):
                wm = max(wm, int(op.split("=", 1)[1]))
        return wm

    def fold(df: DataFrame, batch_id: int) -> None:
        table = VersionedTable(df.sparkSession, table_root)
        wm = watermark(table)
        if batch_id <= wm:
            return  # replay of an already-applied micro-batch
        update_incremental_agg(
            table,
            df,
            keys=keys,
            specs=specs,
            operation=f"stream-batch={batch_id}",
            props={"stream_watermark": batch_id},
        )
        if state_keep_last is not None:
            # replay-safe: the watermark rides every manifest, and
            # vacuum never touches data a retained manifest references
            table.vacuum(keep_last=state_keep_last)

    q = (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def cdc_upsert_sink(
    stream_df: DataFrame,
    table_root: str,
    *,
    key: str,
    checkpoint: str,
    seq_col: str | None = None,
    op_col: str | None = None,
    delete_op: str = "D",
    state_keep_last: int | None = None,
    await_termination: bool = True,
):
    """Streaming CDC apply: each micro-batch MERGEs into a versioned
    table (sources/versioned.py) — upsert by ``key``, with optional
    row-level deletes — so the table is an always-queryable,
    time-travelable mirror of a changing source, maintained at
    O(batch + touched directories) per trigger via the merge's
    zone-map pruning.

    - ``seq_col``: change-sequence column (e.g. the CDC log offset or
      event time); when a batch carries several changes for one key,
      the HIGHEST sequence wins. Ties break on the largest op, then
      on EVERY remaining payload column (descending, name-sorted) —
      without the payload tie-break, two changes equal on (key, seq,
      op) but differing in payload would let ``row_number`` pick an
      arbitrary winner, so a replayed or recomputed batch could land
      a different value. Without ``seq_col``, a batch must not
      contain duplicate keys (enforced: raises on violation rather
      than landing an arbitrary winner).
    - ``op_col``: optional column naming the operation; rows equal to
      ``delete_op`` become deletes, all others upserts. The op/seq
      columns are stripped before landing.
    - Exactly-once: the same manifest-persisted ``stream_watermark``
      guard as :func:`incremental_agg_sink` — a replayed micro-batch
      (crash between merge and offset commit) is a no-op, and the
      guard survives vacuum because it rides in every manifest.
    - ``state_keep_last``: post-apply vacuum down to the last N
      versions (replay-safe for the same reason) so a long-lived CDC
      mirror's history stays bounded; time travel shrinks to the
      retained window.
    """
    from ..sources.versioned import VersionedTable

    def watermark(table: VersionedTable) -> int:
        return int(table.get_props().get("stream_watermark", -1))

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        table = VersionedTable(df.sparkSession, table_root)
        if batch_id <= watermark(table):
            return
        if df.isEmpty():
            # empty micro-batch: merging it would find no touched keys
            # and conservatively rewrite EVERY directory — skip (a
            # replay of an empty batch is equally a no-op)
            return
        strip = [c for c in (seq_col, op_col) if c is not None]
        if seq_col is not None:
            payload = sorted(
                c for c in df.columns if c not in (key, seq_col, op_col)
            )
            w = Window.partitionBy(key).orderBy(
                F.col(seq_col).desc(),
                *([F.col(op_col).desc()] if op_col else []),
                # total order: exact (key, seq, op) duplicates with
                # different payloads must fold deterministically
                *[F.col(c).desc_nulls_last() for c in payload],
            )
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            total, distinct = df.select(
                F.count(F.lit(1)), F.count_distinct(key)
            ).first()
            if total != distinct:
                raise ValueError(
                    f"batch {batch_id} has duplicate keys and no "
                    "seq_col to order them"
                )
        if op_col is not None:
            deletes = df.filter(F.col(op_col) == delete_op).select(key)
            updates = df.filter(F.col(op_col) != delete_op).drop(*strip)
        else:
            deletes, updates = None, df.drop(*strip)
        props = {"stream_watermark": batch_id}
        if table.head() is None:
            # bootstrap: applying deletes to nothing is a no-op
            table.commit(
                updates,
                stats_col=key,
                operation=f"cdc-batch={batch_id}",
                props=props,
            )
            if state_keep_last is not None:
                table.vacuum(keep_last=state_keep_last)
            return
        has_deletes = deletes is not None and not deletes.isEmpty()
        table.merge(
            updates,
            key,
            deletes=deletes if has_deletes else None,
            operation=f"cdc-batch={batch_id}",
            props=props,
        )
        if state_keep_last is not None:
            table.vacuum(keep_last=state_keep_last)

    q = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def lsh_dedup_sink(
    stream_docs: DataFrame,
    state_root: str,
    pairs_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str,
    n: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    state_keep_last: int | None = None,
    pairs_keep_batches: int | None = None,
    await_termination: bool = True,
):
    """Online near-dup detection over a streaming corpus ingest: each
    micro-batch runs ``LshDedupState.ingest`` (operators/dedup.py) —
    shingle/sign/band the BATCH only, probe the persisted band table,
    append its band rows — and lands the discovered candidate pairs
    under ``pairs_path/batch=<id>``. The streaming mirror of the
    batch dedup pipeline: a corpus that arrives continuously gets its
    near-dup pairs within the trigger that delivered the documents,
    at O(batch) cost regardless of history size.

    Exactly-once, output-before-commit: the batch is probed against
    the PRE-commit state (``LshDedupState.probe`` — no mutation), the
    candidate pairs land under ``pairs_path/batch=<id>`` FIRST, and
    only then does ``commit_batch`` append the band rows with the
    ``stream_watermark`` prop. A crash in the window between the two
    therefore replays into an identical probe (the state never moved)
    and the pairs overwrite is idempotent; a replay after the commit
    is a watermark no-op with its pairs already safely published.
    The reverse order (commit first) would silently lose that batch's
    pairs forever — the watermark guard would skip the replay.

    Retention (both optional — without them a long-running stream
    accumulates state versions and pairs directories forever):

    - ``state_keep_last``: after each successful commit, vacuum the
      band-table history down to the last N versions. Replay safety
      is untouched: the ``stream_watermark`` rides in EVERY manifest
      (not the dropped history), and vacuum never deletes data
      directories a retained manifest references.
    - ``pairs_keep_batches``: drop ``batch=<id>`` pairs directories
      once ``id <= current − N`` — for deployments where a
      downstream consumer drains pairs promptly. Only batches at or
      below the committed watermark are ever dropped, and the
      watermark guard means those can never replay, so retention
      cannot race a recovery rewrite.
    """
    import os
    import shutil

    from ..operators.dedup import LshDedupState

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        state = LshDedupState(
            df.sparkSession,
            state_root,
            n=n,
            n_hashes=n_hashes,
            bands=bands,
        )
        wm = int(state.table.get_props().get("stream_watermark", -1))
        if batch_id <= wm:
            return
        if df.isEmpty():
            return
        cand, batch_bands = state.probe(df, id_col=id_col, text_col=text_col)
        cand.write.mode("overwrite").parquet(
            f"{pairs_path}/batch={batch_id}"
        )
        state.commit_batch(
            batch_bands, props={"stream_watermark": batch_id}
        )
        # retention AFTER the commit: everything reclaimed here is at
        # or below the just-persisted watermark, so it can never be
        # needed by a replay
        if state_keep_last is not None:
            state.table.vacuum(keep_last=state_keep_last)
        if pairs_keep_batches is not None and os.path.isdir(pairs_path):
            for name in os.listdir(pairs_path):
                if not name.startswith("batch="):
                    continue
                try:
                    bid = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if bid <= batch_id - pairs_keep_batches:
                    shutil.rmtree(
                        os.path.join(pairs_path, name), ignore_errors=True
                    )

    q = (
        stream_docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def pq_index_sink(
    stream_vecs: DataFrame,
    state_root: str,
    cell_sums,
    *,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    state_keep_last: int | None = None,
    await_termination: bool = True,
):
    """Streaming IVFADC index maintenance: each micro-batch of vectors
    is PQ-encoded (cell + 16 codes, one map-only Arrow kernel — the
    FAISS IndexIVFPQ ``add`` path) and appended cell-partitioned to
    the persisted index (operators/ann_index.py::PqIvfIndexState).
    The streaming mirror of batch ``ingest``: a vector corpus that
    arrives continuously is searchable within the trigger that
    delivered it, at O(batch) cost regardless of index size — no
    rebuild, no history read, no shuffle (encoding is a pure
    per-vector function of the FROZEN cell model + codebook, so the
    union-of-batches invariant makes the streamed index byte-equal to
    a one-shot build).

    Exactly-once: the state append is the ONLY output, so the
    ``stream_watermark`` prop rides the commit itself — a replayed
    batch (crash before the checkpoint advanced) is a watermark no-op
    and cannot duplicate index rows. ``state_keep_last`` bounds the
    version history like the LSH sink's retention (vacuum after
    commit; replay safety rides the manifest props, not the dropped
    history)."""
    from ..operators.ann_index import PqIvfIndexState

    def apply_batch(df: DataFrame, batch_id: int) -> None:
        state = PqIvfIndexState(df.sparkSession, state_root, cell_sums)
        wm = int(state.table.get_props().get("stream_watermark", -1))
        if batch_id <= wm:
            return
        if df.isEmpty():
            return
        state.ingest(
            df,
            id_col=id_col,
            vec_col=vec_col,
            props={"stream_watermark": batch_id},
        )
        if state_keep_last is not None:
            state.table.vacuum(keep_last=state_keep_last)

    q = (
        stream_vecs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
