"""Batch-equivalence tests for the Structured Streaming surface
(SURVEY §2.8 / §7 E-d): every streaming operator, run to completion
with ``Trigger.AvailableNow`` over the sf0.001 events parquet, must
agree with the identical operator applied to the batch read.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lmo_data_catalog_spark.streaming import ops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    from lmo_data_catalog_spark.catalog import Catalog

    return Catalog(spark, SF).load("events").cache()


@pytest.fixture(scope="module")
def stream_src(spark):
    return ops.stream_events(spark, SF)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _watermark_cutoff(batch_events, hours: int):
    """Append mode only emits windows closed by the final watermark
    (max event time − watermark); later windows stay open forever in a
    finite run. Equivalence is exact below the cutoff, subset above."""
    import datetime

    max_ts = batch_events.agg(F.max("ts")).first()[0]
    return max_ts - datetime.timedelta(hours=hours)


def test_tumbling_stream_equals_batch(batch_events, stream_src):
    got = ops.run_available_now(
        ops.tumbling_counts(stream_src), output_mode="append", name="t_tumble"
    )
    want = ops.tumbling_counts(batch_events)
    cutoff = _watermark_cutoff(batch_events, 2)
    closed = want.filter(F.col("win_start") + F.expr("interval 1 hour") <= cutoff)
    got_rows = _rows(got, "win_start", "event_type")
    assert set(got_rows) <= set(_rows(want, "win_start", "event_type"))
    assert set(_rows(closed, "win_start", "event_type")) <= set(got_rows)
    assert got.count() > 0


def test_sliding_stream_equals_batch(batch_events, stream_src):
    got = ops.run_available_now(
        ops.sliding_counts(stream_src), output_mode="append", name="t_slide"
    )
    want = ops.sliding_counts(batch_events)
    cutoff = _watermark_cutoff(batch_events, 4)
    closed = want.filter(F.col("win_start") + F.expr("interval 2 hour") <= cutoff)
    got_rows = _rows(got, "win_start", "event_type")
    assert set(got_rows) <= set(_rows(want, "win_start", "event_type"))
    assert set(_rows(closed, "win_start", "event_type")) <= set(got_rows)
    # each event lands in width/slide = 2 windows (batch side, exact)
    n_tumble = ops.tumbling_counts(batch_events).agg(F.sum("n_events")).first()[0]
    n_slide = want.agg(F.sum("n_events")).first()[0]
    assert n_slide == 2 * n_tumble


def test_session_stream_equals_batch(batch_events, stream_src):
    got = ops.run_available_now(
        ops.session_counts(stream_src), output_mode="append", name="t_sess"
    )
    want = ops.session_counts(batch_events)
    cutoff = _watermark_cutoff(batch_events, 2)
    closed = want.filter(F.col("session_end") <= cutoff)
    got_rows = _rows(got, "user_id", "session_start")
    assert set(got_rows) <= set(_rows(want, "user_id", "session_start"))
    assert set(_rows(closed, "user_id", "session_start")) <= set(got_rows)
    # sessions partition the events: counts sum to the total
    assert want.agg(F.sum("n_events")).first()[0] == batch_events.count()


def test_dedup_stream_equals_batch(spark, batch_events, tmp_path):
    # feed duplicated input through the watermarked dedup; the rewrite
    # also lands µs timestamps, so the plain EVENTS_SCHEMA applies
    dup_dir = str(tmp_path / "dup_events")
    batch_events.union(batch_events).write.mode("overwrite").parquet(dup_dir)
    src = spark.readStream.schema(ops.EVENTS_SCHEMA).parquet(dup_dir)
    got = ops.run_available_now(
        ops.dedup_events(src), output_mode="append", name="t_dedup"
    )
    assert got.count() == batch_events.count()
    assert got.select("event_id").distinct().count() == batch_events.count()


def test_stateful_running_totals_final_state(batch_events, stream_src):
    got = ops.run_available_now(
        ops.user_running_totals_stream(stream_src),
        output_mode="update",
        name="t_totals",
    )
    # memory sink in update mode logs every emission; the final state
    # per user is the row with the max n_events
    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.desc("n_events"))
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    want = ops.user_running_totals_batch(batch_events)
    assert _rows(final, "user_id") == _rows(want, "user_id")


def test_incremental_parquet_sink_idempotent(spark, batch_events, tmp_path):
    """foreachBatch landing: streamed output equals the batch
    transform, and re-running the finished stream (same checkpoint)
    adds nothing."""
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    src = ops.stream_events(spark, SF)
    derived = src.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    ops.incremental_parquet_sink(derived, out, checkpoint=ckpt)
    landed = spark.read.parquet(out).drop("batch")
    want = batch_events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    assert sorted(map(tuple, landed.collect())) == sorted(
        map(tuple, want.collect())
    )
    # replay with the same checkpoint: no new input -> no new rows
    ops.incremental_parquet_sink(derived, out, checkpoint=ckpt)
    again = spark.read.parquet(out).drop("batch")
    assert again.count() == want.count()


def test_watermark_late_data_drop_keep_boundary(spark, tmp_path):
    """Pin the watermark's drop/keep boundary with genuinely late
    events, against a batch-computed expected set.

    Three parquet files become three micro-batches
    (maxFilesPerTrigger=1, mtime-ordered). Batch 0 is the base load;
    batch 1 is a single fresh "carrier" event — needed because since
    the two-watermark model (SPARK-24634, Spark 3.4+) late-EVENT
    filtering in batch N uses the watermark planned at batch N-1,
    i.e. the value propagates with a one-batch lag (verified
    empirically: with only two batches the late rows of the final
    batch are NOT filtered even though the progress log reports the
    advanced watermark). Batch 2 then carries four late events: two
    whose window still ends above the in-force watermark (MUST be
    aggregated) and two whose window closed below it (MUST be
    silently dropped). The expected final counts are computed from
    batch data by replaying that rule — admitted iff window_end >
    max(batch0.ts) - delay — so the stream run is checked against an
    independent implementation of the semantics, not against
    itself."""
    import datetime
    import os

    h0 = datetime.datetime(2024, 3, 1, 0, 0, 0)

    def ev(eid, hours_frac, etype="click", uid=1):
        return (
            eid,
            h0 + datetime.timedelta(hours=hours_frac),
            uid,
            etype,
            1.0,
            "{}",
        )

    # batch 0: one event in each hourly window 0..9 → watermark
    # (max 09:30 − 2h) = 07:30 once in force
    batch0 = [ev(i, i + 0.5) for i in range(10)]
    # batch 1: fresh carrier event; puts 07:30 in force for batch 2
    batch1 = [ev(50, 9.75)]
    # batch 2: late arrivals. windows [8,9) and [9,10) end above the
    # 07:30 watermark → keep; windows [2,3) and [5,6) closed → drop.
    batch2 = [ev(100, 8.25), ev(101, 9.17), ev(102, 2.33), ev(103, 5.75)]

    src_dir = tmp_path / "late_events"
    src_dir.mkdir()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # single real files with controlled names AND mtimes (Spark dir
    # output gets random part-file names, which randomizes the
    # micro-batch order and with it which batch sets the watermark)
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    for i, rows in enumerate([batch0, batch1, batch2]):
        f = str(src_dir / f"batch{i}.parquet")
        table = pa.Table.from_pylist(
            [dict(zip(cols, r)) for r in rows], schema=arrow_schema
        )
        pq.write_table(table, f)
        mtime = 1_700_000_000 + i * 60  # FileStreamSource orders by mtime
        os.utime(f, (mtime, mtime))

    stream = (
        spark.readStream.schema(ops.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    got = ops.run_available_now(
        ops.tumbling_counts(stream), output_mode="update", name="t_late"
    )

    # ---- independent expected set (batch replay of the semantics)
    wm = max(r[1] for r in batch0) - datetime.timedelta(hours=2)
    admitted = [
        r
        for r in batch2
        if (r[1].replace(minute=0, second=0) + datetime.timedelta(hours=1)) > wm
    ]
    assert len(admitted) == 2  # the fixture really straddles the boundary
    expected = ops.tumbling_counts(
        spark.createDataFrame(batch0 + batch1 + admitted, cols)
    )
    expected_rows = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in expected.collect()
    }

    # update-mode memory sink logs every emission; counts only grow,
    # so the final state per window is the max emission
    final = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in got.groupBy("win_start", "event_type")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    assert final == expected_rows

    # the kept-late windows really were updated ...
    w8 = h0 + datetime.timedelta(hours=8)
    w9 = h0 + datetime.timedelta(hours=9)
    assert final[(w8, "click")] == 2  # base + late 08:15
    assert final[(w9, "click")] == 3  # base + carrier + late 09:10
    # ... and the too-late windows were NOT (no emission ever exceeded
    # the batch-1 count — the drop is observable, not assumed)
    w2 = h0 + datetime.timedelta(hours=2)
    w5 = h0 + datetime.timedelta(hours=5)
    assert final[(w2, "click")] == 1 and final[(w5, "click")] == 1


def test_stream_stream_interval_join_equals_batch(batch_events, stream_src):
    """Watermarked stream-stream interval join (click -> purchase
    within 1h per user) emits exactly the batch range-join rows:
    inner join results emit on match, so a finite AvailableNow run
    yields the complete set."""

    def split(ev):
        return (
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )

    want = ops.click_purchase_attribution(*split(batch_events))
    want_rows = {tuple(r) for r in want.collect()}
    assert want_rows, "fixture has no click->purchase pairs within horizon"

    got = ops.run_available_now(
        ops.click_purchase_attribution(*split(stream_src)),
        output_mode="append",
        name="t_ssjoin",
    )
    assert {tuple(r) for r in got.collect()} == want_rows


def test_stream_stream_left_outer_join_watermark_withholds_tail(
    batch_events, stream_src
):
    """Left-outer stream-stream join: matched rows equal the batch
    range join exactly; null-padded rows for un-attributed clicks
    emit only once the watermark proves no match can arrive
    (click_ts + 1h horizon below the final 2h watermark), so the
    stream's null rows sandwich between "provably unmatchable" and
    "all batch-unmatched"."""
    import datetime

    def split(ev):
        return (
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )

    want = ops.click_purchase_attribution(
        *split(batch_events), how="left_outer"
    )
    want_rows = {tuple(r) for r in want.collect()}
    got = ops.run_available_now(
        ops.click_purchase_attribution(*split(stream_src), how="left_outer"),
        output_mode="append",
        name="t_ssjoin_outer",
    )
    got_rows = {tuple(r) for r in got.collect()}

    # nothing spurious, and the inner (matched) subset is complete.
    assert got_rows <= want_rows
    matched = lambda rows: {r for r in rows if r[2] is not None}  # noqa: E731
    assert matched(got_rows) == matched(want_rows)

    # null rows: everything the final watermark proved unmatchable
    # (click_ts + 1h horizon strictly below it) must have emitted.
    # The operative watermark is the MIN across both input sides
    # (each side tracks its own max event time; multipleWatermarkPolicy
    # defaults to min), so derive the cutoff from the smaller side's
    # max ts — the global max would overstate it and flag clicks Spark
    # correctly still holds. 1s slack covers ms truncation.
    side_max = min(
        batch_events.filter(F.col("event_type") == t)
        .agg(F.max("ts"))
        .first()[0]
        for t in ("click", "purchase")
    )
    cutoff = (
        side_max
        - datetime.timedelta(hours=3)  # 2h watermark + 1h horizon
        - datetime.timedelta(seconds=1)
    )
    nulls_got = {r for r in got_rows if r[2] is None}
    must_emit = {
        r for r in want_rows if r[2] is None and r[3] < cutoff
    }
    assert must_emit <= nulls_got
    assert must_emit, "fixture has no provably-unmatchable clicks"


def test_incremental_agg_sink_maintains_materialized_view(
    spark, batch_events, tmp_path
):
    """Streaming materialized view (incremental_agg_sink): the state
    table after the stream drains equals the batch aggregate, and a
    replayed micro-batch (simulated by re-invoking fold semantics via
    a fresh run over the same checkpoint) changes nothing."""
    from lmo_data_catalog_spark.sources.versioned import VersionedTable

    root = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")
    src = ops.stream_events(spark, SF).select("event_type", "value")
    specs = {"value": ("sum", "min", "max")}
    ops.incremental_agg_sink(
        src, root, keys=["event_type"], specs=specs, checkpoint=ckpt
    )
    t = VersionedTable(spark, root)
    got = {
        r["event_type"]: (
            r["row_count"],
            round(r["value_sum"], 6),
            r["value_min"],
            r["value_max"],
        )
        for r in t.read().collect()
    }
    want = {
        r["event_type"]: (
            r["n"],
            round(r["s"], 6),
            r["mn"],
            r["mx"],
        )
        for r in batch_events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == want
    head_before = t.head()
    # Drained stream re-run on the same checkpoint: no new batches, no
    # new state versions.
    ops.incremental_agg_sink(
        src, root, keys=["event_type"], specs=specs, checkpoint=ckpt
    )
    assert t.head() == head_before

    # Replay protection: applying micro-batch id 0 again is a no-op
    # even without the checkpoint's help.
    hist = [h["operation"] for h in t.history()]
    assert any(op.startswith("stream-batch=") for op in hist)


def test_incremental_agg_sink_replayed_batch_is_noop(spark, tmp_path):
    """Replay protection without the checkpoint's help: applying the
    same micro-batch id twice must not create a version or change
    state (the failure window between state commit and offset commit)."""
    from lmo_data_catalog_spark.operators.incremental import (
        update_incremental_agg,
    )
    from lmo_data_catalog_spark.sources.versioned import VersionedTable

    root = str(tmp_path / "mv")
    t = VersionedTable(spark, root)
    batch = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["k", "value"])
    update_incremental_agg(
        t, batch, keys=["k"], specs={"value": ("sum",)},
        operation="stream-batch=7",
        props={"stream_watermark": 7},
    )
    head = t.head()
    state = {tuple(r) for r in t.read().collect()}
    # what incremental_agg_sink's fold does on a replayed id:
    assert int(t.get_props()["stream_watermark"]) >= 7  # fold skips
    assert t.head() == head
    assert {tuple(r) for r in t.read().collect()} == state


def test_replay_guard_survives_vacuum(spark, tmp_path):
    """Regression (r6 advice): the replay guard used to scan history
    for stream-batch tags, which vacuum(keep_last=1) deletes — a
    replayed batch after such a vacuum was re-applied and
    double-counted. The watermark now rides in every manifest's props,
    so it survives any retention policy."""
    from lmo_data_catalog_spark.operators.incremental import (
        update_incremental_agg,
    )
    from lmo_data_catalog_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "mv"))
    for bid, rows in ((0, [("a", 1.0)]), (1, [("a", 2.0), ("b", 3.0)])):
        update_incremental_agg(
            t,
            spark.createDataFrame(rows, ["k", "value"]),
            keys=["k"],
            specs={"value": ("sum",)},
            operation=f"stream-batch={bid}",
            props={"stream_watermark": bid},
        )
    t.vacuum(keep_last=1)
    # history tags for batch 0 are gone, but the watermark is not:
    ops_hist = [h["operation"] for h in t.history()]
    assert not any(op.endswith("=0") for op in ops_hist)
    assert int(t.get_props()["stream_watermark"]) == 1
    # legacy-table fallback still works when props are absent entirely
    legacy = VersionedTable(spark, str(tmp_path / "legacy"))
    update_incremental_agg(
        legacy,
        spark.createDataFrame([("a", 1.0)], ["k", "value"]),
        keys=["k"],
        specs={"value": ("sum",)},
        operation="stream-batch=4",
    )
    assert "stream_watermark" not in legacy.get_props()


def test_incremental_agg_sink_folds_multiple_micro_batches(
    spark, batch_events, tmp_path
):
    """Two source files + maxFilesPerTrigger=1 force (at least) two
    micro-batches: the state table must fold BOTH (equal to the batch
    aggregate over the union) and record one stream-batch commit per
    micro-batch."""
    import os

    from lmo_data_catalog_spark.sources.versioned import VersionedTable

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    half = batch_events.select("event_type", "value")
    a = half.filter(F.col("event_type") <= "purchase")
    b = half.filter(F.col("event_type") > "purchase")
    a.coalesce(1).write.parquet(os.path.join(src_dir, "f=a"))
    b.coalesce(1).write.parquet(os.path.join(src_dir, "f=b"))

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir + "/*")
    )
    root = str(tmp_path / "mv")
    ops.incremental_agg_sink(
        stream,
        root,
        keys=["event_type"],
        specs={"value": ("sum",)},
        checkpoint=str(tmp_path / "ckpt"),
    )
    t = VersionedTable(spark, root)
    folds = [
        h for h in t.history()
        if h["operation"].startswith("stream-batch=")
        or h["operation"] == "incremental-init"
    ]
    assert len(folds) >= 2  # one state version per micro-batch
    got = {
        r["event_type"]: (r["row_count"], round(r["value_sum"], 6))
        for r in t.read().collect()
    }
    want = {
        r["event_type"]: (r["n"], round(r["s"], 6))
        for r in half.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_cdc_upsert_sink_applies_changes_in_order(spark, tmp_path):
    """CDC apply through the versioned merge: two micro-batches of
    keyed changes (insert/update/delete, several changes per key in
    one batch) must land as the ordered net effect, each trigger an
    atomic snapshot, with the replay watermark recorded."""
    import os

    from lmo_data_catalog_spark.sources.versioned import VersionedTable

    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    schema = "k bigint, seq bigint, op string, val string"
    b0 = spark.createDataFrame(
        [(1, 1, "I", "a"), (2, 1, "I", "b"), (3, 1, "I", "c")],
        schema,
    )
    # batch 2: k=1 updated twice (seq 3 wins), k=2 deleted, k=4 inserted
    b1 = spark.createDataFrame(
        [(1, 2, "U", "a2"), (1, 3, "U", "a3"), (2, 2, "D", None),
         (4, 2, "I", "d")],
        schema,
    )
    b0.coalesce(1).write.parquet(os.path.join(src, "f=0"))
    b1.coalesce(1).write.parquet(os.path.join(src, "f=1"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    root = str(tmp_path / "mirror")
    ops.cdc_upsert_sink(
        stream,
        root,
        key="k",
        seq_col="seq",
        op_col="op",
        checkpoint=str(tmp_path / "ckpt"),
    )
    t = VersionedTable(spark, root)
    got = {(r["k"], r["val"]) for r in t.read().collect()}
    assert got == {(1, "a3"), (3, "c"), (4, "d")}
    assert set(t.read().columns) == {"k", "val"}  # seq/op stripped
    assert int(t.get_props()["stream_watermark"]) >= 1
    # re-running the finished stream (same checkpoint) changes nothing
    head = t.head()
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    ops.cdc_upsert_sink(
        stream2, root, key="k", seq_col="seq", op_col="op",
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert t.head() == head


def test_cdc_upsert_sink_exact_dup_seq_ties_break_deterministically(
    spark, tmp_path
):
    """Two changes for one key with EQUAL seq and op but different
    payloads: the fold must pick the same winner on every run (the
    payload-descending tie-break), not whatever row_number saw first
    — otherwise a replayed batch could land a different value."""
    import os

    from lmo_data_catalog_spark.sources.versioned import VersionedTable

    schema = "k bigint, seq bigint, op string, val string"
    rows = [(1, 1, "U", "alpha"), (1, 1, "U", "zeta"), (2, 1, "I", "b")]

    for attempt in ("one", "two"):
        src = str(tmp_path / f"src_{attempt}")
        os.makedirs(src)
        # reversed arrival order on the second run
        data = rows if attempt == "one" else rows[::-1]
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            os.path.join(src, "f=0")
        )
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        root = str(tmp_path / f"mirror_{attempt}")
        ops.cdc_upsert_sink(
            stream,
            root,
            key="k",
            seq_col="seq",
            op_col="op",
            checkpoint=str(tmp_path / f"ckpt_{attempt}"),
        )
        got = {
            (r["k"], r["val"])
            for r in VersionedTable(spark, root).read().collect()
        }
        # desc payload order: 'zeta' > 'alpha'
        assert got == {(1, "zeta"), (2, "b")}, attempt


def test_sink_state_retention_bounds_history(spark, tmp_path):
    """state_keep_last on the incremental-agg and CDC sinks: history
    stays bounded across triggers, the final state is identical to an
    unvacuumed twin, and a finished-stream replay is still a no-op
    (the watermark rides every manifest, immune to vacuum)."""
    import os

    from lmo_data_catalog_spark.sources.versioned import VersionedTable

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "k bigint, seq bigint, op string, val string"
    for i in range(4):
        spark.createDataFrame(
            [(j, i, "U", f"b{i}v{j}") for j in range(3)], schema
        ).coalesce(1).write.parquet(os.path.join(src, f"f={i}"))

    def mk():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )

    kept = str(tmp_path / "kept")
    ops.cdc_upsert_sink(
        mk(), kept, key="k", seq_col="seq", op_col="op",
        checkpoint=str(tmp_path / "ck1"), state_keep_last=2,
    )
    full = str(tmp_path / "full")
    ops.cdc_upsert_sink(
        mk(), full, key="k", seq_col="seq", op_col="op",
        checkpoint=str(tmp_path / "ck2"),
    )
    tk, tf = VersionedTable(spark, kept), VersionedTable(spark, full)
    assert len(tk.versions()) <= 2 < len(tf.versions())
    assert {tuple(r) for r in tk.read().collect()} == {
        tuple(r) for r in tf.read().collect()
    }
    # replay after vacuum: no-op
    head = tk.head()
    ops.cdc_upsert_sink(
        mk(), kept, key="k", seq_col="seq", op_col="op",
        checkpoint=str(tmp_path / "ck1"), state_keep_last=2,
    )
    assert tk.head() == head

    # incremental-agg sink, same contract
    agg_root = str(tmp_path / "agg")
    ops.incremental_agg_sink(
        mk().drop("op", "val"),
        agg_root,
        keys=["k"],
        specs={"seq": ("sum", "max")},
        checkpoint=str(tmp_path / "ck3"),
        state_keep_last=2,
    )
    ta = VersionedTable(spark, agg_root)
    assert len(ta.versions()) <= 2
    got = {
        (r["k"], r["seq_sum"], r["seq_max"], r["row_count"])
        for r in ta.read().select(
            "k", "seq_sum", "seq_max", "row_count"
        ).collect()
    }
    assert got == {(0, 6, 3, 4), (1, 6, 3, 4), (2, 6, 3, 4)}
