"""Streaming layer tests (SURVEY §2.J W1-W8, §2.K K3).

The key property: the streaming watermarked rollup through the upsert
sink must equal the batch rollup bit-for-bit (integer-units state), and
the watermark must actually drop too-late data."""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.operators.agg import hourly_rollup
from cassandra_iot_pipeline_spark.streaming.pipeline import (
    hourly_agg_query,
    read_event_stream,
    run_pipeline,
)
from cassandra_iot_pipeline_spark.streaming.sinks import ParquetUpsertSink
from cassandra_iot_pipeline_spark.streaming.staging import stage_events_stream
from tests.conftest import SF_DIR, _jobs_run


def _rows_sorted(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("staged"))
    return stage_events_stream(spark, SF_DIR, base_dir=base)


def test_full_pipeline_parity(spark, staged, tmp_path):
    """Both continuous queries replayed over the fixture: raw sink holds
    every event; agg sink equals the batch hourly rollup exactly."""
    sinks = run_pipeline(spark, staged, out_dir=str(tmp_path / "out"),
                         max_files_per_trigger=4)
    events = load_table(spark, SF_DIR, "events")

    raw = sinks["raw"].read(spark)
    assert raw.count() == events.count()

    got = sinks["agg"].read(spark).select(
        "device_id", "hour_bucket", "avg_value", "max_value", "min_value",
        "event_count",
    )
    want = hourly_rollup(events)
    assert _rows_sorted(got) == _rows_sorted(want)

    # r12: the replay skips the trailing no-data micro-batch (update
    # mode emits every group in its data batch; the extra batch only
    # evicted state) — every recorded batch must carry input rows, the
    # session conf must be restored, and the parity asserts above are
    # the proof the skip changes nothing.
    assert all(b["input_rows"] > 0 for b in sinks["progress"]["agg"])
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == "true"
    )


def test_replay_entries_skip_no_data_batch_with_identical_results(
    spark, tmp_path
):
    """r12 optimization pin: streaming_hourly_rollup (update mode +
    skip_no_data_batch) equals the batch rollup bit-for-bit, through
    the driver-facing entry itself."""
    from cassandra_iot_pipeline_spark.streaming.pipeline import (
        streaming_hourly_rollup,
    )

    got = streaming_hourly_rollup(spark, SF_DIR).select(
        "device_id", "hour_bucket", "avg_value", "max_value", "min_value",
        "event_count",
    )
    want = hourly_rollup(load_table(spark, SF_DIR, "events"))
    assert _rows_sorted(got) == _rows_sorted(want)


def test_sliding_streaming_equals_batch_sliding_rollup(spark, staged, tmp_path):
    """W2 extension: the hopping-window streaming aggregation reaches
    the batch sliding_rollup bit-for-bit, like the tumbling pair."""
    from cassandra_iot_pipeline_spark.operators.agg import sliding_rollup
    from cassandra_iot_pipeline_spark.streaming.pipeline import (
        read_event_stream,
        sliding_agg_query,
    )

    sink = ParquetUpsertSink(
        str(tmp_path / "sliding"), pk=("device_id", "bucket_start")
    )
    q = sliding_agg_query(
        read_event_stream(spark, staged, max_files_per_trigger=16),
        sink,
        str(tmp_path / "ckpt_sliding"),
    )
    q.awaitTermination()
    got = sink.read(spark).select(
        "device_id", "bucket_start", "avg_value", "max_value", "min_value",
        "event_count",
    )
    want = sliding_rollup(load_table(spark, SF_DIR, "events"))
    assert _rows_sorted(got) == _rows_sorted(want)


def test_upsert_sink_last_write_wins(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path / "t"), pk=("k",))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b2 = spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string")
    sink.write_batch(b1, epoch_id=0)
    sink.write_batch(b2, epoch_id=1)
    got = {r.k: r.v for r in sink.read(spark).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}
    # log keeps all versions (audit surface)
    assert sink.read_log(spark).count() == 4
    # compaction folds to one row per PK without changing the view
    sink.compact(spark)
    assert sink.read_log(spark).count() == 3
    assert {r.k: r.v for r in sink.read(spark).collect()} == got


def test_single_epoch_unique_read_skips_reconcile_window(spark, tmp_path):
    """r13: with ONE written epoch and the caller's per-epoch-PK-unique
    guarantee, read() skips the reconcile window (no Window/Exchange in
    the plan) and returns the identical rows; a second epoch falls back
    to the full last-write-wins reconcile."""
    sink = ParquetUpsertSink(str(tmp_path / "t"), pk=("k",))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sink.write_batch(b1, epoch_id=0)
    fast = sink.read(spark, unique_within_epoch=True)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan, plan
    assert {r.k: r.v for r in fast.collect()} == {1: "a", 2: "b"}
    assert fast.columns == sink.read(spark).columns
    # second epoch: the fast path must disengage and reconcile LWW
    b2 = spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string")
    sink.write_batch(b2, epoch_id=1)
    again = sink.read(spark, unique_within_epoch=True)
    plan2 = again._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan2, plan2
    assert {r.k: r.v for r in again.collect()} == {1: "a", 2: "b2", 3: "c"}
    # an empty-batch epoch writes nothing and must not count
    sink2 = ParquetUpsertSink(str(tmp_path / "t2"), pk=("k",))
    sink2.write_batch(spark.createDataFrame([], "k long, v string"), epoch_id=0)
    sink2.write_batch(b1, epoch_id=1)
    plan3 = (
        sink2.read(spark, unique_within_epoch=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan3, plan3
    # a reader that wrote nothing (fresh instance over an existing log)
    # must keep the full reconcile regardless of the flag
    reader = ParquetUpsertSink(str(tmp_path / "t"), pk=("k",))
    rplan = (
        reader.read(spark, unique_within_epoch=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in rplan, rplan


def test_fresh_sink_over_existing_log_reconciles(spark, tmp_path):
    """A new sink instance that lands ONE epoch over a log an earlier
    instance wrote must still reconcile: the skip guard reads the log
    on disk, not the instance's own bookkeeping."""
    path = str(tmp_path / "t")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b2 = spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string")
    ParquetUpsertSink(path, pk=("k",)).write_batch(b1, epoch_id=0)
    sink = ParquetUpsertSink(path, pk=("k",))
    sink.write_batch(b2, epoch_id=1)
    got = sink.read(spark, unique_within_epoch=True)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b2"), (3, "c")]


def test_redelivered_epoch_reconciles(spark, tmp_path):
    """The same epoch_id written twice (an at-least-once re-delivery)
    appends a second copy of every row; the unique-within-epoch read
    must still return one row per PK."""
    sink = ParquetUpsertSink(str(tmp_path / "t"), pk=("k",))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sink.write_batch(b1, epoch_id=0)
    sink.write_batch(b1, epoch_id=0)
    assert sink.read_log(spark).count() == 4
    got = sink.read(spark, unique_within_epoch=True)
    assert sorted(map(tuple, got.collect())) == [(1, "a"), (2, "b")]


def test_unchanged_log_read_reuses_view_without_jobs(spark, tmp_path):
    """A second read over an unchanged log returns the view the first
    one built, so constructing it lists the directory but runs no Spark
    job (no re-listing by Spark, no schema inference)."""
    sink = ParquetUpsertSink(str(tmp_path / "t"), pk=("k",))
    sink.write_batch(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    sink.write_batch(spark.createDataFrame([(2, "b2")], "k long, v string"), 1)
    views = []
    assert _jobs_run(spark, lambda: views.append(sink.read(spark))) >= 1
    assert _jobs_run(spark, lambda: views.append(sink.read(spark))) == 0
    assert views[1] is views[0]
    assert sorted(map(tuple, views[1].collect())) == [(1, "a"), (2, "b2")]
    # one slot per unique_within_epoch value, and a session of its own
    assert sink.read(spark, unique_within_epoch=True) is not views[0]
    assert sink.read(spark) is views[0]
    assert sink.read(spark.newSession()) is not views[0]


def test_snapshot_follows_writes_from_any_instance(spark, tmp_path):
    """The reused view is keyed on the log on disk: an epoch written
    through the same instance or through a second instance on the same
    path makes the next read return the new last-write-wins rows."""
    path = str(tmp_path / "t")
    sink = ParquetUpsertSink(path, pk=("k",))
    sink.write_batch(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    assert _rows_sorted(sink.read(spark)) == [(1, "a"), (2, "b")]
    sink.write_batch(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), 1)
    assert _rows_sorted(sink.read(spark)) == [(1, "a"), (2, "b2"), (3, "c")]
    other = ParquetUpsertSink(path, pk=("k",))
    other.write_batch(spark.createDataFrame([(1, "a3")], "k long, v string"), 2)
    assert _rows_sorted(sink.read(spark)) == [(1, "a3"), (2, "b2"), (3, "c")]


def test_snapshot_follows_compaction(spark, tmp_path):
    """compact() swaps in freshly named files: the reused view is
    dropped, the rows stay the same, and the unique-within-epoch read
    of the one-write log now skips the reconcile window."""
    sink = ParquetUpsertSink(str(tmp_path / "t"), pk=("k",))
    sink.write_batch(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    sink.write_batch(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), 1)
    before = sink.read(spark, unique_within_epoch=True)
    assert "Window" in before._jdf.queryExecution().executedPlan().toString()
    want = _rows_sorted(before)
    sink.compact(spark)
    after = sink.read(spark, unique_within_epoch=True)
    plan = after._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert _rows_sorted(after) == want == _rows_sorted(sink.read(spark))


def test_empty_batch_guard(spark, tmp_path):
    sink = ParquetUpsertSink(str(tmp_path / "t"), pk=("k",))
    empty = spark.createDataFrame([], "k long, v string")
    sink.write_batch(empty, epoch_id=0)
    assert not sink.exists()


def _write_staged_file(spark, rows, path, mtime):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    tmp = path + "_dir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    import glob
    import shutil

    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)
    os.utime(path, (mtime, mtime))


def test_watermark_late_data_semantics(spark, tmp_path):
    """W1/W3: Spark's watermark contract (structured streaming guide,
    "Semantic Guarantees of Aggregation with Watermarking"): data within
    the delay is never dropped; data beyond it is dropped once the
    window's state has been evicted. Three batches pin both halves:

    - batch 1 advances event time to 12:30 (watermark -> 12:29);
    - batch 2's on-time row runs with that watermark, evicting the
      [10:00,11:00) window state;
    - batch 3's very-late 10:30 row then hits an evicted window and is
      DROPPED — it must NOT resurface as a fresh count-1 aggregate that
      would clobber the upsert sink (the failure mode this design
      guards against).
    """
    d = str(tmp_path / "late_src")
    os.makedirs(d)
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def row(i, minutes, v):
        return (i, t0 + dt.timedelta(minutes=minutes), 1, "reading", v)

    now = time.time()
    _write_staged_file(
        spark, [row(1, 0, 10.0), row(2, 30, 20.0), row(3, 150, 30.0)],
        os.path.join(d, "b1.parquet"), now - 100,
    )
    _write_staged_file(
        spark, [row(5, 160, 40.0)], os.path.join(d, "b2.parquet"), now - 50
    )
    _write_staged_file(
        spark, [row(6, 30, 99.0)], os.path.join(d, "b3.parquet"), now - 10
    )
    sink = ParquetUpsertSink(str(tmp_path / "agg"), pk=("device_id", "hour_bucket"))
    q = hourly_agg_query(
        read_event_stream(spark, d, max_files_per_trigger=1),
        sink,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {
        (r.device_id, r.hour_bucket): (r.event_count, r.avg_value)
        for r in sink.read(spark).collect()
    }
    h10 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    h12 = h10 + 7200
    # 10:00 window: the two on-time rows only — the post-eviction 99.0
    # was dropped at input, not re-emitted as a fresh aggregate
    assert got[(1, h10)] == (2, 15.0)
    # 12:00 window: rows at 150' and 160' both aggregated
    assert got[(1, h12)] == (2, 35.0)


def test_checkpoint_resume_is_idempotent(spark, staged, tmp_path):
    """W5: re-running an already-completed availableNow query from its
    checkpoint must not duplicate sink rows (exactly-once end state)."""
    sink = ParquetUpsertSink(str(tmp_path / "agg"), pk=("device_id", "hour_bucket"))
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        q = hourly_agg_query(
            read_event_stream(spark, staged, max_files_per_trigger=8),
            sink, ckpt,
        )
        q.awaitTermination()
    events = load_table(spark, SF_DIR, "events")
    want = hourly_rollup(events)
    got = sink.read(spark).select(
        "device_id", "hour_bucket", "avg_value", "max_value", "min_value",
        "event_count",
    )
    assert _rows_sorted(got) == _rows_sorted(want)


def test_processing_time_trigger_reaches_batch_parity(spark, staged, tmp_path):
    """W6: the wall-clock processingTime trigger (the reference's
    5-second cadence, spark_consumer.py:210) run end-to-end — the query
    ticks on real time until all staged files are consumed, then the
    sink must equal the batch rollup exactly (same bar as availableNow)."""
    sink = ParquetUpsertSink(
        str(tmp_path / "agg_pt"), pk=("device_id", "hour_bucket")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = hourly_agg_query(
            read_event_stream(spark, staged, max_files_per_trigger=8),
            sink,
            str(tmp_path / "ckpt_pt"),
            trigger={"processingTime": "500 milliseconds"},
        )
        # wall-clock triggers never self-terminate: wait until the file
        # source has drained (a few idle ticks), then stop.
        deadline = time.time() + 120
        idle = 0
        while time.time() < deadline and idle < 3:
            time.sleep(0.5)
            progress = q.lastProgress
            if progress is None:
                continue
            idle = idle + 1 if progress["numInputRows"] == 0 else 0
        q.stop()
        q.awaitTermination(30)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    events = load_table(spark, SF_DIR, "events")
    got = sink.read(spark).select(
        "device_id", "hour_bucket", "avg_value", "max_value", "min_value",
        "event_count",
    )
    assert _rows_sorted(got) == _rows_sorted(hourly_rollup(events))


def test_dedup_within_watermark_drops_redeliveries_in_stream(
    spark, staged, tmp_path
):
    """W-series extension: double-delivered replay (every record arrives
    twice) through dropDuplicatesWithinWatermark lands each event ONCE
    in the sink's raw append log — proving duplicates were dropped
    in-stream, not absorbed later by the PK-upsert read. Multi-batch
    replay (4 files/trigger) so the dedup state crosses micro-batch
    boundaries."""
    from cassandra_iot_pipeline_spark.streaming.dedup import (
        dedup_within_watermark,
        double_delivery,
    )
    from cassandra_iot_pipeline_spark.streaming.pipeline import (
        raw_passthrough_query,
    )

    sink = ParquetUpsertSink(
        str(tmp_path / "deduped_raw"), pk=("user_id", "ts", "event_id")
    )
    q = raw_passthrough_query(
        dedup_within_watermark(
            double_delivery(spark, staged, max_files_per_trigger=4)
        ),
        sink,
        str(tmp_path / "ckpt_dedup"),
    )
    q.awaitTermination()
    events = load_table(spark, SF_DIR, "events")
    n = events.count()
    # the LOG (every appended row, pre-upsert) carries each event once:
    # 2n rows were delivered, n reached the sink
    assert sink.read_log(spark).count() == n
    # and the reconciled view equals the batch projection exactly
    got = sink.read(spark).select("event_id", "ts", "user_id", "event_type", "value")
    want = events.select(
        "event_id", "ts", "user_id", "event_type",
        F.col("value").cast("double").alias("value"),
    )
    assert _rows_sorted(got) == _rows_sorted(want)
