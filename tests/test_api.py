"""End-to-end facade test: the reference user's workflow on this engine."""

from __future__ import annotations

import os
import threading
import time

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from cassandra_iot_pipeline_spark import litframe
from cassandra_iot_pipeline_spark.api import IoTEngine
from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.litframe import arrow_frame
from cassandra_iot_pipeline_spark.operators.agg import hourly_rollup
from cassandra_iot_pipeline_spark.plans import formatted_plan
from cassandra_iot_pipeline_spark.streaming import sinks
from cassandra_iot_pipeline_spark.streaming.staging import stage_events_stream
from tests.conftest import SF_DIR, _jobs_run, bitwise_rows


def test_full_reference_workflow(spark, tmp_path):
    engine = IoTEngine(spark, str(tmp_path / "warehouse"))
    staged = stage_events_stream(spark, SF_DIR, base_dir=str(tmp_path / "staging"))
    engine.ingest_stream(staged)

    events = load_table(spark, SF_DIR, "events")
    counts = engine.table_counts()
    assert counts["sensor_events"] == events.count()
    assert counts["hourly_aggregates"] == hourly_rollup(events).count()
    rollup = bitwise_rows(hourly_rollup(events))
    assert bitwise_rows(engine.hourly()) == rollup

    # the latency-probe read
    latest = engine.latest_events(device_id=13, limit=10).collect()
    assert 0 < len(latest) <= 10
    assert all(r.user_id == 13 for r in latest)
    ts_list = [r.ts for r in latest]
    assert ts_list == sorted(ts_list, reverse=True)

    # dashboard read, newest bucket first
    hourly = engine.hourly_aggregates(device_id=13).collect()
    assert len(hourly) > 0
    buckets = [r.hour_bucket for r in hourly]
    assert buckets == sorted(buckets, reverse=True)

    # range read subsets the dashboard read
    lo, hi = buckets[-1], buckets[0]
    full = engine.device_hourly_range(13, lo, hi).count()
    assert full == len(buckets)

    # re-ingesting the same data is idempotent (PK upsert): its complete
    # hourly rows replace the streamed partials, nothing is summed twice
    engine.ingest_batch(events, epoch_id=99)
    counts2 = engine.table_counts()
    assert counts2 == counts
    assert bitwise_rows(engine.hourly()) == rollup
    assert bitwise_rows(engine.hourly_aggregates(13)) == [r for r in rollup if r[0] == 13]

    # compaction preserves the reconciled view and shrinks the log
    stats_before = {r.table: r.n_files for r in engine.table_stats().collect()}
    engine.compact()
    stats_after = {r.table: r.n_files for r in engine.table_stats().collect()}
    assert engine.table_counts() == counts
    assert bitwise_rows(engine.hourly()) == rollup
    assert stats_after["sensor_events"] <= stats_before["sensor_events"]


def test_batch_only_ingest(spark, tmp_path):
    engine = IoTEngine(spark, str(tmp_path / "wh2"))
    events = load_table(spark, SF_DIR, "events")
    engine.ingest_batch(events)
    assert engine.table_counts()["sensor_events"] == events.count()
    # aggregates match the batch rollup exactly
    got = sorted(
        map(tuple, engine.hourly().select(
            "device_id", "hour_bucket", "avg_value", "max_value",
            "min_value", "event_count").collect())
    )
    want = sorted(map(tuple, hourly_rollup(events).collect()))
    assert got == want


def test_latency_probe(spark, tmp_path):
    from cassandra_iot_pipeline_spark.catalog import load_table as _lt

    engine = IoTEngine(spark, str(tmp_path / "wh3"))
    engine.ingest_batch(_lt(spark, SF_DIR, "events"))
    probe_df = engine.latency_probe([12, 13], limit=5)
    assert probe_df.schema == _parse_datatype_string(
        "device_id long, n_rows long, latency_ms double"
    )
    assert engine.table_stats().schema == _parse_datatype_string(
        "table string, n_files long, n_bytes long, n_rows long, consistency string"
    )
    probe = probe_df.collect()
    assert len(probe) == 2
    assert all(r.latency_ms > 0 and r.n_rows <= 5 for r in probe)


def test_cassandra_sink_options():
    from cassandra_iot_pipeline_spark.streaming.cassandra import (
        CassandraUpsertSink,
    )

    sink = CassandraUpsertSink("sensor_events", consistency_level="ONE")
    opts = sink.writer_options()
    assert opts["keyspace"] == "iot_analytics"
    assert opts["table"] == "sensor_events"
    assert opts["spark.cassandra.output.consistency.level"] == "ONE"


# --- driver-side serving reads -------------------------------------------

DEVICES = (7, 12, 13)


def _three_epoch_engine(spark, path):
    """Three epochs that re-deliver PKs with changed values: epoch 1
    rewrites every event's value, epoch 2 rewrites the even devices'
    values again, so last-write-wins picks different epochs per row."""
    engine = IoTEngine(spark, path)
    events = load_table(spark, SF_DIR, "events")
    engine.ingest_batch(events, epoch_id=0)
    engine.ingest_batch(events.withColumn("value", F.col("value") + 1), epoch_id=1)
    engine.ingest_batch(
        events.filter(F.col("user_id") % 2 == 0).withColumn("value", F.col("value") * 3),
        epoch_id=2,
    )
    return engine


@pytest.fixture(scope="module")
def epochs_engine(spark, tmp_path_factory):
    return _three_epoch_engine(spark, str(tmp_path_factory.mktemp("epochs")))


def _reads(device, start=0, end=1 << 40):
    return {
        "latest_events": lambda e: e.latest_events(device, 10),
        "hourly_aggregates": lambda e: e.hourly_aggregates(device),
        "device_hourly_range": lambda e: e.device_hourly_range(device, start, end),
    }


def _on_spark(monkeypatch, read):
    """``read`` with the driver path declined for every device (even
    one with no rows): the Spark plan."""
    with monkeypatch.context() as m:
        m.setattr(sinks, "DRIVER_READ_MAX_ROWS", -1)
        return read()


def _assert_same_as_spark(monkeypatch, engine, device, start=0, end=1 << 40):
    """Each driver-path read equals the Spark read: equal schema, and
    row for row in order. The range read promises no order on Spark,
    so its rows are compared in the driver path's clustering order."""
    for name, read in _reads(device, start, end).items():
        driver = read(engine)
        assert "Scan parquet" not in formatted_plan(driver), name
        spark_df = _on_spark(monkeypatch, lambda: read(engine))
        assert driver.schema == spark_df.schema, name
        got, want = driver.collect(), spark_df.collect()
        if name == "device_hourly_range":
            want = sorted(want, key=lambda r: r.hour_bucket, reverse=True)
        assert got == want, name


def test_driver_reads_equal_spark_reads_across_epochs(epochs_engine, monkeypatch):
    for device in DEVICES:
        _assert_same_as_spark(monkeypatch, epochs_engine, device)
    # device 12 is even: its rows carry the values epoch 2 wrote
    epoch2 = dict(
        load_table(epochs_engine.spark, SF_DIR, "events")
        .filter(F.col("user_id") == 12)
        .select("event_id", (F.col("value") * 3).cast("double"))
        .collect()
    )
    latest = epochs_engine.latest_events(12, 10).collect()
    assert latest and all(r.value == epoch2[r.event_id] for r in latest)


def test_driver_reads_equal_spark_reads_after_compact(spark, tmp_path, monkeypatch):
    engine = _three_epoch_engine(spark, str(tmp_path / "wh"))
    engine.compact()
    for device in DEVICES:
        _assert_same_as_spark(monkeypatch, engine, device)


def test_driver_reads_empty_results(epochs_engine, monkeypatch):
    """An empty bucket range and a device with no rows: empty frames
    with the Spark read's schema."""
    _assert_same_as_spark(monkeypatch, epochs_engine, 13, start=1, end=2)
    _assert_same_as_spark(monkeypatch, epochs_engine, -5)
    assert epochs_engine.latest_events(-5).collect() == []


def test_table_without_part_files_takes_spark_plan(spark, tmp_path):
    """No part files, whether the table directories are missing or hold
    only a ``_SUCCESS`` marker: ``lookup`` declines and the read plans
    on Spark, which fails as before (there is no table to read)."""
    engine = IoTEngine(spark, str(tmp_path / "empty"))
    for with_markers in (False, True):
        if with_markers:
            for sink in (engine.raw_sink, engine.agg_sink):
                os.makedirs(sink.path)
                open(os.path.join(sink.path, "_SUCCESS"), "w").close()
        assert engine.raw_sink.lookup(spark, "user_id", 13) is None
        assert engine.agg_sink.lookup(spark, "device_id", 13) is None
        for name, read in _reads(13).items():
            with pytest.raises(AnalysisException):
                read(engine)


@pytest.fixture
def non_utc_process_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_driver_reads_under_non_utc_process_tz(epochs_engine, monkeypatch, non_utc_process_tz):
    """The INT96 timestamps pyarrow returns naive are UTC instants: a
    local-time reading would shift every ts by the zone's offset."""
    assert time.timezone != 0
    for device in DEVICES:
        _assert_same_as_spark(monkeypatch, epochs_engine, device)


def test_driver_reads_run_no_spark_job(spark, epochs_engine):
    """On a warm sink, building and collecting each driver-path read
    starts no Spark job."""
    for name, read in _reads(13).items():
        read(epochs_engine).collect()
        assert _jobs_run(spark, lambda: read(epochs_engine).collect()) == 0, name


def _gateway_calls(monkeypatch, spark, action):
    """(py4j commands ``action`` sends from this thread, its result).
    Object releases go out on py4j's finalizer thread, off the read's
    path, and are not counted."""
    client = spark._jvm._gateway_client
    send, sent, caller = client.send_command, [], threading.get_ident()

    def counting(command, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(command)
        return send(command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        return sent, action()


def test_driver_reads_build_in_three_gateway_calls(epochs_engine, monkeypatch):
    """Building a warm driver-path read takes at most three py4j round
    trips (a conf read, the Arrow stream read and ``toDataFrame``;
    ``createDataFrame`` took 21), and the frame is a LocalRelation over
    no parquet scan."""
    for name, read in _reads(13).items():
        read(epochs_engine)
        sent, df = _gateway_calls(monkeypatch, epochs_engine.spark, lambda: read(epochs_engine))
        assert len(sent) <= 3, (name, sent)
        assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation", name
        assert "Scan parquet" not in formatted_plan(df), name


def test_over_bound_lookup_declines_to_reconcile_window(epochs_engine, monkeypatch):
    spark = epochs_engine.spark
    rows = epochs_engine.raw_sink.lookup(spark, "user_id", 13)
    assert rows is not None and rows.num_rows > 0
    monkeypatch.setattr(sinks, "DRIVER_READ_MAX_ROWS", rows.num_rows - 1)
    assert epochs_engine.raw_sink.lookup(spark, "user_id", 13) is None
    for name, read in _reads(13).items():
        assert "Window" in formatted_plan(read(epochs_engine)), name


def test_compacted_lookup_reads_few_row_groups(spark, tmp_path, monkeypatch):
    """``compact`` sorts each file by the PK, so with small row groups
    one device's rows sit in a few of them and the footer statistics
    prune the rest."""
    engine = _three_epoch_engine(spark, str(tmp_path / "wh"))
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.setInt("parquet.block.size", 4096)
    try:
        engine.compact()
    finally:
        hconf.unset("parquet.block.size")
    sink = engine.raw_sink
    parts = [
        os.path.join(sink.path, n) for n in os.listdir(sink.path) if n.endswith(".parquet")
    ]
    total = sum(pq.ParquetFile(p).metadata.num_row_groups for p in parts)
    touched = sum(
        len(f.row_groups)
        for f in sinks.matching_row_groups(
            ds.dataset(parts, format="parquet"), ds.field("user_id") == 13
        )
    )
    assert total >= 8 and 0 < touched <= total // 4, (touched, total)
    _assert_same_as_spark(monkeypatch, engine, 13)


def _plant_interrupted_write(sink, like=None):
    """The hidden file a driver write leaves when it dies before its
    rename: half of the part file ``like`` (or a few bytes)."""
    os.makedirs(sink.path, exist_ok=True)
    data = b"PAR1"
    if like is not None:
        with open(like, "rb") as fh:
            data = fh.read()
        data = data[: len(data) // 2]
    name = ".part-00000-00000000-0000-0000-0000-000000000000-c000.snappy.parquet.inprogress"
    with open(os.path.join(sink.path, name), "wb") as fh:
        fh.write(data)


def _assert_interrupted_write_ignored(engine):
    """A hidden leftover in both tables changes no read, lookup,
    ``exists`` or count."""
    spark = engine.spark
    by_key = {"user_id": engine.raw_sink, "device_id": engine.agg_sink}

    def state():
        return (
            engine.table_counts(),
            {c: s.exists() for c, s in by_key.items()},
            {c: bitwise_rows(s.read(spark)) for c, s in by_key.items()},
            {c: s.lookup(spark, c, 13) for c, s in by_key.items()},
        )

    before = state()
    for sink in by_key.values():
        parts = [n for n in os.listdir(sink.path) if n.endswith(".parquet")]
        _plant_interrupted_write(sink, os.path.join(sink.path, parts[0]))
    assert state() == before


def test_mixed_driver_and_spark_written_log(spark, tmp_path, monkeypatch):
    """The ingest's driver-written files and ``ingest_batch``'s Spark-
    written ones (INT96 timestamps in both) make one log: after each of
    ``ingest_stream``, ``ingest_batch`` and ``compact()``, the driver
    reads equal their Spark plans and the tables hold the expected
    rows; a single write's log skips the reconcile window; and a hidden
    leftover of an interrupted driver write is never read."""
    from cassandra_iot_pipeline_spark.streaming.pipeline import raw_rows

    engine = IoTEngine(spark, str(tmp_path / "wh"))
    for sink in (engine.raw_sink, engine.agg_sink):
        _plant_interrupted_write(sink)
    assert not engine.raw_sink.exists() and not engine.agg_sink.exists()
    assert engine.table_counts() == {"sensor_events": 0, "hourly_aggregates": 0}

    events = load_table(spark, SF_DIR, "events")
    even = F.col("user_id") % 2 == 0
    rewritten = events.filter(even).withColumn("value", F.col("value") * 3)
    staged = stage_events_stream(spark, SF_DIR, base_dir=str(tmp_path / "staging"))
    steps = {
        "ingest_stream": (
            lambda: engine.ingest_stream(staged, max_files_per_trigger=64),
            events,
        ),
        "ingest_batch": (
            lambda: engine.ingest_batch(rewritten, epoch_id=99),
            events.filter(~even).unionByName(rewritten),
        ),
        "compact": (engine.compact, events.filter(~even).unionByName(rewritten)),
    }
    for step, (run, want) in steps.items():
        run()
        assert bitwise_rows(engine.sensor_events()) == bitwise_rows(raw_rows(want)), step
        assert bitwise_rows(engine.hourly()) == bitwise_rows(hourly_rollup(want)), step
        for device in DEVICES:
            _assert_same_as_spark(monkeypatch, engine, device)
        single = sinks._write_jobs(engine.raw_sink._listing()) == 1
        assert single == (step != "ingest_batch"), step
        plan = formatted_plan(engine.raw_sink.read(spark, unique_within_epoch=True))
        assert ("Window" not in plan) == single, (step, plan)
        _assert_interrupted_write_ignored(engine)


# --- arrow_frame: createDataFrame's schema and rows ------------------------


def _assert_as_create_data_frame(spark, table):
    got, want = arrow_frame(spark, table), spark.createDataFrame(table)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def _int96_round_trip(table, tmp_path):
    """``table`` as pyarrow reads it back from a file written with
    INT96 timestamps, as Spark writes them: naive ``timestamp[ns]``."""
    path = str(tmp_path / "int96.parquet")
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)
    return pq.read_table(path)


@pytest.fixture
def session_conf(spark):
    """Sets session confs for one test and restores them after."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_arrow_frame_empty_and_null_tables(spark):
    empty = pa.table(
        {
            "id": pa.array([], pa.int64()),
            "name": pa.array([], pa.string()),
            "ts": pa.array([], pa.timestamp("us", "UTC")),
        }
    )
    _assert_as_create_data_frame(spark, empty)
    assert arrow_frame(spark, empty).collect() == []
    nulls = pa.table(
        {
            "id": pa.array([None, None], pa.int64()),
            "name": pa.array([None, None], pa.string()),
            "value": pa.array([None, None], pa.float64()),
            "ts": pa.array([None, None], pa.timestamp("ns", "UTC")),
        }
    )
    _assert_as_create_data_frame(spark, nulls)


def test_arrow_frame_int96_timestamps(spark, tmp_path, session_conf):
    """INT96 holds nanoseconds: pyarrow returns them as naive
    ``timestamp[ns]``, truncated to microseconds toward the past (also
    before 1970), and read in the session time zone when naive, as
    marked UTC otherwise."""
    nanos = [1_700_000_000_123_456_789, -1_000_000_001, 0, None]
    naive = _int96_round_trip(
        pa.table({"ts": pa.array(nanos, pa.timestamp("ns")), "id": [1, 2, 3, 4]}), tmp_path
    )
    assert naive.schema.field("ts").type == pa.timestamp("ns")
    marked = naive.set_column(0, "ts", naive["ts"].cast(pa.timestamp("ns", "UTC")))
    for zone in ("UTC", "America/Los_Angeles"):
        session_conf("spark.sql.session.timeZone", zone)
        _assert_as_create_data_frame(spark, naive)
        _assert_as_create_data_frame(spark, marked)
    micros = arrow_frame(spark, marked).selectExpr("unix_micros(ts)").collect()
    assert [r[0] for r in micros] == [1_700_000_000_123_456, -1_000_001, 0, None]


def test_arrow_frame_non_ascii_and_multi_chunk(spark):
    words = ["Grüße", "日本語", "emoji 😀", "", None, "a'b\\c"]
    _assert_as_create_data_frame(spark, pa.table({"word": words, "n": range(len(words))}))
    parts = [pa.table({"n": [i, i + 1], "word": [f"w{i}", None]}) for i in range(0, 8, 2)]
    chunked = pa.concat_tables(parts)
    assert chunked["n"].num_chunks == 4
    _assert_as_create_data_frame(spark, chunked)
    assert [r.n for r in arrow_frame(spark, chunked).collect()] == list(range(8))


def test_arrow_frame_honours_large_var_types(spark, session_conf):
    """The JVM reads the stream with the string offset width this conf
    names: a stream with the other width must never reach it."""
    table = pa.table({"word": ["Grüße", None, "x" * 100], "data": [b"\x00\x01", b"", None]})
    for large in ("true", "false"):
        session_conf("spark.sql.execution.arrow.useLargeVarTypes", large)
        _assert_as_create_data_frame(spark, table)


def test_arrow_frame_leaves_no_temp_file(spark, monkeypatch):
    """The Arrow stream's temp file is gone after the hand-off, also
    when the JVM fails to read it."""
    temp_dir = spark.sparkContext._temp_dir
    before = set(os.listdir(temp_dir))
    table = pa.table({"n": [1, 2, 3]})
    assert arrow_frame(spark, table).collect() and set(os.listdir(temp_dir)) == before

    read_stream, *rest = litframe._sql_utils(spark._jvm)
    handed = []

    def corrupt_then_read(path):
        handed.append(path)
        with open(path, "wb") as fh:
            fh.write(b"not an arrow stream")
        return read_stream(path)

    monkeypatch.setattr(litframe, "_sql_utils", lambda jvm: (corrupt_then_read, *rest))
    with pytest.raises(Exception):
        arrow_frame(spark, table)
    assert len(handed) == 1 and not os.path.exists(handed[0])
    assert set(os.listdir(temp_dir)) == before
