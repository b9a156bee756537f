"""Streaming layer tests (SURVEY §2.J W1-W8, §2.K K3).

The key property: the streaming watermarked rollup through the upsert
sink must equal the batch rollup bit-for-bit (integer-units state), and
the watermark must actually drop too-late data."""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq
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
from tests.conftest import SF_DIR, _jobs_run, bitwise_rows


def _rows_sorted(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("staged"))
    return stage_events_stream(spark, SF_DIR, base_dir=base)


def test_full_pipeline_parity(spark, staged, tmp_path):
    """The ingest query replayed over the fixture: raw sink holds every
    event; agg sink equals the batch hourly rollup exactly."""
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

    # the query holds no state, so it never runs a trailing no-data
    # micro-batch: every recorded batch must carry input rows, and the
    # session conf must be left as it was
    assert all(b["input_rows"] > 0 for b in sinks["progress"]["ingest"])
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


# --- the single ingest query: partials folded on read --------------------

HOURLY_COLS = ("device_id", "hour_bucket", "avg_value", "max_value", "min_value", "event_count")
T0 = dt.datetime(2024, 1, 1, 10, 0, 0, tzinfo=dt.timezone.utc)


def _stage_files(d, batches):
    """One parquet file per batch of (device, minutes after T0, value)
    rows, file modification times in batch order (the file source's
    replay order)."""
    os.makedirs(d)
    now = time.time()
    event_id = 0
    for i, rows in enumerate(batches):
        ids = list(range(event_id, event_id + len(rows)))
        event_id += len(rows)
        table = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [T0 + dt.timedelta(minutes=m) for _, m, _ in rows], pa.timestamp("us", "UTC")
                ),
                "user_id": pa.array([dev for dev, _, _ in rows], pa.int64()),
                "event_type": pa.array(["reading"] * len(rows)),
                "value": pa.array([v for _, _, v in rows], pa.float64()),
            }
        )
        path = os.path.join(d, f"b{i:03d}.parquet")
        pq.write_table(table, path)
        mtime = now - 1000 + i
        os.utime(path, (mtime, mtime))
    return d


def _random_late_batches(seed, n_files=5):
    """Seeded one-file batches whose event time moves forward while
    some rows arrive up to 2.5 hours late."""
    rng = random.Random(seed)
    cursor, batches = 0.0, []
    for _ in range(n_files):
        cursor += rng.uniform(0, 45)
        batches.append(
            [
                (rng.randint(1, 3), cursor + rng.uniform(-150, 5), round(rng.uniform(-50, 50), 2))
                for _ in range(rng.randint(1, 6))
            ]
        )
    return batches


LATE_STREAMS = {
    # 11:00:30 moves the watermark to 10:59:30; the 10:59:45 and
    # 10:59:50 rows are behind the newest event by less than the delay;
    # an empty file makes a batch with no rows
    "late_within_delay": [
        [(1, 0, 10.0), (1, 30, 20.0), (2, 60.5, 1.5)],
        [(1, 59.75, 30.25), (2, 70, 2.5)],
        [],
        [(1, 59 + 5 / 6, 4.0), (2, 75, 3.5)],
        [(1, 90, 5.0)],
    ],
    # the 10:05 row is 53 minutes late, but the watermark (10:49) has
    # not passed its window's end
    "late_into_open_window": [
        [(1, 0, 1.0), (1, 50, 2.0)],
        [(1, 58, 3.0), (2, 20, 4.0)],
        [(1, 5, 5.0), (2, 25, 6.0)],
        [(1, 150, 7.0)],
        [(1, 10, 8.0)],
    ],
    # the 10:30 rows arrive after the watermark (12:29) closed their
    # window: the stateful query drops them at input
    "late_into_evicted_window": [
        [(1, 0, 10.0), (1, 30, 20.0), (2, 150, 30.0)],
        [(1, 160, 40.0)],
        [(1, 30, 99.0), (2, 31, 98.0), (2, 165, 1.25)],
    ],
    # 0.125 and -0.125 are exact ties (±12.5 units), which Spark rounds
    # half away from zero to ±13 (rounding half up would give -12, half
    # to even ±12); device 3's 11:00 window holds a null value in one
    # epoch, device 4's window holds only a null
    "half_up_ties_and_nulls": [
        [(1, 0, 0.125), (2, 5, -0.125), (3, 10, -2.5)],
        [(1, 20, None), (3, 70, None), (4, 25, None)],
        [(2, 30, -0.125), (3, 75, 0.125)],
    ],
    **{f"random_{seed}": _random_late_batches(seed) for seed in (1, 2, 3)},
}


@pytest.mark.parametrize("name", LATE_STREAMS)
def test_ingest_hourly_equals_stateful_query_bitwise(spark, tmp_path, name):
    """``ingest_stream``'s hourly table, folded from per-epoch partials,
    equals what the stateful ``hourly_agg_query`` lands from the same
    one-file batches, bit for bit, late and dropped rows included."""
    from cassandra_iot_pipeline_spark.api import IoTEngine

    src = _stage_files(str(tmp_path / "src"), LATE_STREAMS[name])
    engine = IoTEngine(spark, str(tmp_path / "wh"))
    engine.ingest_stream(src, max_files_per_trigger=1)
    sink = ParquetUpsertSink(str(tmp_path / "agg"), pk=("device_id", "hour_bucket"))
    hourly_agg_query(
        read_event_stream(spark, src, max_files_per_trigger=1), sink, str(tmp_path / "ckpt")
    ).awaitTermination()
    want = bitwise_rows(sink.read(spark).select(*HOURLY_COLS))
    assert bitwise_rows(engine.hourly()) == want
    assert engine.hourly().columns == list(HOURLY_COLS)
    # the driver-side read folds the same partials
    for device in {row[0] for row in want}:
        got = engine.hourly_aggregates(device)
        assert bitwise_rows(got) == [r for r in want if r[0] == device]


def test_evicted_window_rows_are_dropped_from_partials(spark, tmp_path):
    """The late-into-evicted-window stream, checked by value: the 10:00
    window keeps its two on-time rows only."""
    from cassandra_iot_pipeline_spark.api import IoTEngine

    src = _stage_files(str(tmp_path / "src"), LATE_STREAMS["late_into_evicted_window"])
    engine = IoTEngine(spark, str(tmp_path / "wh"))
    engine.ingest_stream(src, max_files_per_trigger=1)
    got = {(r.device_id, r.hour_bucket): (r.event_count, r.avg_value) for r in engine.hourly().collect()}
    h10 = int(T0.timestamp())
    assert got[(1, h10)] == (2, 15.0)
    assert got[(2, h10 + 7200)] == (2, 15.625)
    assert (2, h10) not in got
    # the raw table still lands every row, late ones included
    assert engine.table_counts()["sensor_events"] == 7


def test_partial_epoch_written_twice_folds_once(spark, tmp_path):
    """An at-least-once re-delivery of a partial epoch appends a second
    copy; the read counts that epoch once, on Spark and on the driver."""
    from cassandra_iot_pipeline_spark.streaming.pipeline import hourly_partials, raw_rows

    def batch(rows):
        return spark.createDataFrame(
            [(i, T0 + dt.timedelta(minutes=m), d, "r", v) for i, (d, m, v) in enumerate(rows)],
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )

    b0 = batch([(1, 0, 1.25), (1, 10, 2.5), (2, 70, 3.0)])
    b1 = batch([(1, 20, 4.75), (2, 80, -1.0)])
    p0 = hourly_partials(raw_rows(b0).toArrow(), 0)
    p1 = hourly_partials(raw_rows(b1).toArrow(), 0)
    sink = ParquetUpsertSink(str(tmp_path / "agg"), pk=("device_id", "hour_bucket"))
    sink.append_arrow(p0, 0)
    sink.append_arrow(p1, 1)
    sink.append_arrow(p0, 0)
    assert sink.read_log(spark).count() == 6
    want = bitwise_rows(hourly_rollup(b0.unionByName(b1)))
    assert bitwise_rows(sink.read(spark)) == want
    for device in (1, 2):
        driver = spark.createDataFrame(sink.lookup(spark, "device_id", device))
        assert bitwise_rows(driver) == [r for r in want if r[0] == device]


def test_redelivered_epoch_after_compact_changes_no_hourly_row(spark, tmp_path):
    """Re-delivering the last epoch's partials folds once before
    ``compact()``, and changes nothing after it: compaction keeps the
    highest epoch each PK folded. The stream's 10:00 window of device 1
    takes rows in four epochs, the last one included."""
    from cassandra_iot_pipeline_spark.api import IoTEngine
    from cassandra_iot_pipeline_spark.streaming.sinks import PARTIAL

    src = _stage_files(str(tmp_path / "src"), LATE_STREAMS["late_into_open_window"])
    engine = IoTEngine(spark, str(tmp_path / "wh"))
    engine.ingest_stream(src, max_files_per_trigger=1)
    want = bitwise_rows(engine.hourly())
    h10 = int(T0.timestamp())
    assert [r[5] for r in want if r[:2] == (1, h10)] == [5]
    sink = engine.agg_sink
    log = sink.read_log(spark)
    last = log.agg(F.max("__epoch")).first()[0]
    assert last == 4
    redelivered = log.filter((F.col("__epoch") == last) & F.col(PARTIAL)).drop("__epoch")
    redelivered = spark.createDataFrame(redelivered.collect(), redelivered.schema)
    assert redelivered.count() == 1
    sink.append(redelivered, last)
    assert bitwise_rows(engine.hourly()) == want
    engine.compact()
    assert bitwise_rows(engine.hourly()) == want
    assert PARTIAL not in sink.read_log(spark).columns
    sink.append(redelivered, last)
    assert bitwise_rows(engine.hourly()) == want
    assert bitwise_rows(engine.hourly_aggregates(1)) == [r for r in want if r[0] == 1]


CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."
FILE_SYSTEM_MANAGER = _MANAGERS + "FileSystemBasedCheckpointFileManager"
FILE_CONTEXT_MANAGER = _MANAGERS + "FileContextBasedCheckpointFileManager"


def _checkpoint_manager(spark, path) -> str:
    """The class of the manager Spark's checkpoint logs would write
    ``path`` with under the session's current conf."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsparkSession.sessionState().newHadoopConf()
    ).getClass().getName()


def _log_epochs(sink) -> list[int]:
    """The epoch of every part file in ``sink``'s log, one entry per
    file (a driver write lands one file per epoch)."""
    return sorted(
        pq.read_table(os.path.join(sink.path, name), columns=["__epoch"])["__epoch"][0].as_py()
        for name, _ in sink._listing()
        if name.endswith(".parquet")
    )


@pytest.mark.parametrize(
    "first,second",
    [(FILE_CONTEXT_MANAGER, FILE_SYSTEM_MANAGER), (FILE_SYSTEM_MANAGER, FILE_CONTEXT_MANAGER)],
    ids=["file_context_then_file_system", "file_system_then_file_context"],
)
def test_ingest_checkpoint_resumes_across_file_managers(spark, tmp_path, first, second):
    """A checkpoint that one checkpoint file manager wrote resumes under
    the other: two ``ingest_stream`` calls of two files each, one under
    each manager, land the same logs as one call over all four files.
    The third batch drops late rows by the watermark of the second,
    read from the offset log the first manager wrote."""
    import shutil

    from cassandra_iot_pipeline_spark.api import IoTEngine

    assert spark.conf.get(CHECKPOINT_MANAGER) == FILE_SYSTEM_MANAGER
    batches = LATE_STREAMS["late_into_evicted_window"] + [[(1, 170, 5.0), (2, 40, 7.0)]]
    every = _stage_files(str(tmp_path / "every"), batches)
    want = IoTEngine(spark, str(tmp_path / "once"))
    want.ingest_stream(every, max_files_per_trigger=1)

    src = tmp_path / "src"
    src.mkdir()
    engine = IoTEngine(spark, str(tmp_path / "wh"))
    checkpoint = os.path.join(engine.warehouse_dir, "ckpt_ingest")
    for manager, names in ((first, ["b000", "b001"]), (second, ["b002", "b003"])):
        for name in names:
            shutil.copy2(os.path.join(every, f"{name}.parquet"), src)
        spark.conf.set(CHECKPOINT_MANAGER, manager)
        try:
            assert _checkpoint_manager(spark, checkpoint) == manager
            progress = engine.ingest_stream(str(src), max_files_per_trigger=1)["progress"]["ingest"]
        finally:
            spark.conf.set(CHECKPOINT_MANAGER, FILE_SYSTEM_MANAGER)
        assert [b["input_rows"] for b in progress] == [len(batches[int(n[1:])]) for n in names]

    for log in ("offsets", "commits"):
        entries = os.listdir(os.path.join(checkpoint, log))
        assert sorted(e for e in entries if e.isdigit()) == ["0", "1", "2", "3"], entries
    for got, expected in ((engine.raw_sink, want.raw_sink), (engine.agg_sink, want.agg_sink)):
        epochs = _log_epochs(got)
        assert epochs == _log_epochs(expected) and len(set(epochs)) == len(epochs)
        assert bitwise_rows(got.read_log(spark)) == bitwise_rows(expected.read_log(spark))
    assert _log_epochs(engine.raw_sink) == [0, 1, 2, 3]
    assert bitwise_rows(engine.sensor_events()) == bitwise_rows(want.sensor_events())
    assert bitwise_rows(engine.hourly()) == bitwise_rows(want.hourly())
    h10 = int(T0.timestamp())
    assert (2, h10) not in {(r.device_id, r.hour_bucket) for r in engine.hourly().collect()}


def _job_query_ids(spark, action) -> list:
    """The ``sql.streaming.queryId`` of every Spark job ``action``
    starts, read from an event log written for its duration."""
    import glob
    import json
    import tempfile

    sc = spark.sparkContext._jsc.sc()
    jvm = spark._jvm
    log_dir = tempfile.mkdtemp(prefix="job_props_")
    conf = (
        sc.conf().clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        "job-props", jvm.scala.Option.empty(), jvm.java.net.URI("file://" + log_dir),
        conf, sc.hadoopConfiguration(),
    )
    listener.start()
    sc.addSparkListener(listener)
    try:
        action()
        sc.listenerBus().waitUntilEmpty()
    finally:
        sc.removeSparkListener(listener)
        listener.stop()
    ids = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                event = json.loads(line)
                if event["Event"] == "SparkListenerJobStart":
                    ids.append((event.get("Properties") or {}).get("sql.streaming.queryId"))
    return ids


def _staged_events(staged) -> int:
    """Rows in the staged parquet files, from their footers."""
    import glob

    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(staged, "*.parquet")))


def _assert_ingest_jobs_tagged(ids, result, warehouse_dir, n_events):
    """One Spark job per ingest batch (the Arrow collect), each tagged
    with the query id, and one source scan: the batches read each
    staged event once."""
    import json

    with open(os.path.join(warehouse_dir, "ckpt_ingest", "metadata")) as fh:
        query_id = json.load(fh)["id"]
    progress = result["progress"]["ingest"]
    assert len(progress) >= 2 and len(ids) == len(progress), ids
    assert set(ids) == {query_id}, ids
    assert sum(b["input_rows"] for b in progress) == n_events


def test_ingest_jobs_carry_query_id(spark, staged, tmp_path):
    """Every Spark job of the ingest batches is tagged with the
    stream's query id, and the calling thread's properties are left as
    they were."""
    from cassandra_iot_pipeline_spark.api import IoTEngine

    engine = IoTEngine(spark, str(tmp_path / "wh"))
    result = {}
    ids = _job_query_ids(
        spark, lambda: result.update(engine.ingest_stream(staged, max_files_per_trigger=16))
    )
    _assert_ingest_jobs_tagged(ids, result, engine.warehouse_dir, _staged_events(staged))
    assert spark.sparkContext.getLocalProperty("sql.streaming.queryId") is None


_NON_PINNED_INGEST = """
import json, sys
sys.path.insert(0, sys.argv[1])
from cassandra_iot_pipeline_spark.api import IoTEngine
from cassandra_iot_pipeline_spark.session import build_session
spark = build_session("non-pinned", extra_conf={
    "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false", "spark.eventLog.dir": sys.argv[4]})
result = IoTEngine(spark, sys.argv[3]).ingest_stream(sys.argv[2], max_files_per_trigger=16)
spark.stop()
print(json.dumps(result["progress"]))
"""


def test_ingest_jobs_carry_query_id_without_pinned_threads(staged, tmp_path):
    """Under ``PYSPARK_PIN_THREAD=false`` (a process of its own: the
    gateway mode is fixed at launch) no JVM thread follows a Python
    thread; the ingest still tags every job with the query id."""
    import glob
    import json
    import subprocess
    import sys

    from tests.conftest import REPO_ROOT

    log_dir, warehouse = tmp_path / "events", str(tmp_path / "wh")
    log_dir.mkdir()
    env = dict(
        os.environ, PYSPARK_PIN_THREAD="false", SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g"
    )
    out = subprocess.run(
        [sys.executable, "-c", _NON_PINNED_INGEST, str(REPO_ROOT), staged, warehouse, str(log_dir)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    ids = []
    for path in glob.glob(str(log_dir / "*")):
        with open(path) as fh:
            for line in fh:
                event = json.loads(line)
                if event["Event"] == "SparkListenerJobStart":
                    ids.append((event.get("Properties") or {}).get("sql.streaming.queryId"))
    progress = json.loads(out.stdout.strip().splitlines()[-1])
    _assert_ingest_jobs_tagged(ids, {"progress": progress}, warehouse, _staged_events(staged))


def test_ingest_runs_one_query_without_state_store(spark, staged, tmp_path):
    """``ingest_stream`` starts one streaming query, and no batch of it
    reports a state operator."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    from cassandra_iot_pipeline_spark.api import IoTEngine

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.started, self.progress = [], []

        def onQueryStarted(self, event):
            self.started.append(str(event.id))

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    recorder = Recorder()
    spark.streams.addListener(recorder)
    try:
        result = IoTEngine(spark, str(tmp_path / "wh")).ingest_stream(
            staged, max_files_per_trigger=8
        )
        batches = len(result["progress"]["ingest"])
        deadline = time.monotonic() + 30
        while len(recorder.progress) < batches and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(recorder)
    assert list(result["progress"]) == ["ingest"]
    assert len(recorder.started) == 1
    assert len(recorder.progress) == batches > 1
    assert all(p["id"] == recorder.started[0] and not p["stateOperators"] for p in recorder.progress)
    assert spark.streams.active == []
    # the returned rows carry each batch's checkpoint phases
    phases = {"wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset"}
    durations = {p["batchId"]: p["durationMs"] for p in recorder.progress}
    for row in result["progress"]["ingest"]:
        assert {k: row[k] for k in phases} == {k: durations[row["batch_id"]][v] for k, v in phases.items()}
