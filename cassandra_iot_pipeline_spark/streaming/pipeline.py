"""The reference's ingest, Spark-first (SURVEY §2.J).

The reference runs two continuous queries over one topic: a raw
passthrough into ``sensor_events`` (reference:
iot-cassandra-pipeline/src/spark_consumer.py:131-160) and a watermarked
hourly aggregation into ``hourly_aggregates`` (spark_consumer.py:164-211).
:func:`run_pipeline` lands both tables from ONE query with no state
store: each micro-batch's ``foreachBatch`` collects the batch's raw rows
as Arrow (one Spark job, one source scan) and writes, from the driver,
those rows and the batch's per-(device, hour) partials; the hourly sink
folds the partials on read and in compaction (streaming/sinks.py). One
offset log and WAL per batch instead of two, no state-store load and
commit, and no Spark write job. The batch is held on the driver, so
``max_files_per_trigger`` bounds its size.

Differences from the reference, by design:
- **partials instead of state**: the hourly state is kept in integer
  units (see operators/exactmath.py), so it is associative and the fold
  of the partials equals the stateful aggregate bit for bit; the Arrow
  partials use Spark's window floor and half-up rounding. Epochs plus
  the idempotent sink keep the result exactly-once: a re-delivered
  epoch is folded once.
- **the stateful late-data rule, read from disk**: batch N drops the
  rows whose hour window ends at or before the watermark of batch N-1,
  taken from the checkpoint's offset log, as Spark's stateful
  aggregation does, so a replay recomputes the same partials.
- **update mode + PK-upsert sink** for :func:`hourly_agg_query`, the
  stateful form the ``streaming_hourly_rollup`` oracle entry keeps:
  the reference relies on Cassandra's last-write-wins PK upsert to make
  re-emitted rows idempotent (init.cql:25,48); with an upsert sink,
  update mode gives the same end state and serves partial aggregates
  for the current hour instead of holding them until the watermark
  closes the window.
- **no per-batch count**: the reference counts each micro-batch twice
  (spark_consumer.py:139+154 — two extra full scans per micro-batch);
  the ingest query writes without an empty check, and the sinks'
  ``write_batch`` guards with one ``isEmpty``.
"""

from __future__ import annotations

import json
import os
import tempfile
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.exactmath import exact_sum
from ..schemas import EVENTS_FIXTURE_SCHEMA
from ..store import run_foreach_batch
from .sinks import PARTIAL, ParquetUpsertSink
from .staging import read_staged

WATERMARK_DELAY = "1 minute"  # reference: spark_consumer.py:171-172
WINDOW = "1 hour"  # reference: spark_consumer.py:177

#: the local property that tags a Spark job with its streaming query
QUERY_ID = "sql.streaming.queryId"


def read_event_stream(
    spark: SparkSession, staged_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """W8/S1: bounded file-source stand-in for the Kafka source. The
    parquet schema is declared up front (streaming sources require it —
    same property as the reference's plan-time schema fetch,
    spark_consumer.py:34-57)."""
    return read_staged(
        spark, EVENTS_FIXTURE_SCHEMA, staged_dir, max_files_per_trigger
    )


#: The reference's two tables: name -> (primary key, consistency
#: level). The parquet sink keeps the level as pass-through metadata
#: (reference: init.cql:25, 48; spark_consumer.py:152, 202).
INGEST_TABLES = {
    "sensor_events": (("user_id", "ts", "event_id"), "ONE"),
    "hourly_aggregates": (("device_id", "hour_bucket"), "QUORUM"),
}


def ingest_sinks(out_dir: str) -> tuple[ParquetUpsertSink, ...]:
    """(raw, agg): the upsert sinks of :data:`INGEST_TABLES` under
    ``out_dir``."""
    return tuple(
        ParquetUpsertSink(
            os.path.join(out_dir, name),
            pk=pk,
            sink_options={"consistency_level": level},
        )
        for name, (pk, level) in INGEST_TABLES.items()
    )


#: files per micro-batch for the bounded bench replays. One knob for all
#: four driver-facing replay queries. The current sf0.1 fixture stages as
#: ~30 day files, so 32 already replays as ONE availableNow batch —
#: measured (r3): larger values change nothing, and the residual
#: streaming bench cost is fixed machinery (checkpoint init, state-store
#: open/commit, sink write, query start/stop) plus host noise, not batch
#: cadence. Multi-batch state-semantics coverage lives in
#: tests/test_streaming.py with its own small trigger sizes.
REPLAY_FILES_PER_TRIGGER = 32


@contextmanager
def bounded_replay_confs(spark: SparkSession):
    """Session confs for the bounded driver-facing stateful replays,
    restored on exit.

    8 shuffle partitions size the stateful shuffle (state-store commits
    are per partition per batch — the dominant cost at fixture scale).

    The trailing empty micro-batch is disabled
    (``spark.sql.streaming.noDataMicroBatches.enabled=false``) — ONLY
    valid for queries whose final no-data batch provably emits nothing:
    update-mode aggregation (all groups already emitted in their data
    batch; watermark advance only evicts state), arrival-time
    ``dropDuplicatesWithinWatermark`` (rows emit on first arrival), and
    INNER stream-stream joins (pairs emit when matched; only outer
    joins emit at eviction). NOT for operators that emit on watermark
    advance (e.g. the sessionizer closes sessions in that batch, and
    append-mode windowed aggregation finalizes there). Measured at
    sf0.1 (interleaved A/B, min-of-3): hourly rollup 2.88 → 2.28 s,
    raw passthrough 3.66 → 2.90 s, conversion pairs medians 5.6 → 3.7 s
    — the no-data batch costs a full trigger execution (state-store
    load + commit per partition) and buys these queries nothing. Row
    sets verified identical here and bitwise via the oracle gate."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )


def raw_passthrough_query(
    stream: DataFrame,
    sink: ParquetUpsertSink,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Query 1: decode/project and land every event, PK (user_id, ts,
    event_id) — the sensor_events table write
    (reference: spark_consumer.py:137-160)."""
    return run_foreach_batch(
        raw_rows(stream), sink.write_batch, checkpoint_dir, trigger, "append"
    )


def raw_rows(events: DataFrame) -> DataFrame:
    """The ``sensor_events`` row of each event."""
    return events.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )


def hourly_agg_query(
    stream: DataFrame,
    sink: ParquetUpsertSink,
    checkpoint_dir: str,
    output_mode: str = "update",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Query 2: watermarked tumbling-window aggregation
    (reference: spark_consumer.py:171-192).

    State: integer-units sum + count + min/max per (device, window) —
    bounded by the watermark (W1). Output rows match the batch
    hourly_rollup contract exactly.
    """
    agg = (
        stream.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(
            F.col("user_id").alias("device_id"),
            F.window("ts", WINDOW).alias("hour_window"),
        )
        .agg(
            exact_sum(F.col("value")).alias("sum_units"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("event_count"),
        )
        .select(
            "device_id",
            F.unix_timestamp(F.col("hour_window.start")).cast("long").alias("hour_bucket"),
            (F.col("sum_units") / F.lit(100.0) / F.col("event_count")).alias("avg_value"),
            "max_value",
            "min_value",
            "event_count",
        )
    )
    return run_foreach_batch(
        agg, sink.write_batch, checkpoint_dir, trigger, output_mode
    )


def hourly_partials(rows: pa.Table, late_before_ms: int) -> pa.Table:
    """One micro-batch's share of the hourly rollup, from its
    :func:`raw_rows` collected as Arrow: per (device, hour window), the
    integer-unit state of :func:`hourly_agg_query`, marked partial, in
    the columns and arithmetic of the stateful query's plan. The window
    floors the epoch-microsecond time to the hour (``F.window``), and a
    value's units are ``round(value * 100)`` half away from zero
    (Spark's HALF_UP, ``operators/exactmath.py::units``). Windows that
    end at or before ``late_before_ms`` (epoch milliseconds) are
    dropped, as the stateful query drops them: by their key, so all of
    a late window's rows go."""
    micros = pc.cast(rows["ts"], pa.int64())
    hour = pc.floor_temporal(pc.cast(micros, pa.timestamp("us")), unit="hour")
    hour_bucket = pc.divide(pc.cast(hour, pa.int64()), 1_000_000)
    units = pc.round(pc.multiply(rows["value"], 100.0), round_mode="half_towards_infinity")
    state = pa.table(
        {
            "device_id": rows["user_id"],
            "hour_bucket": hour_bucket,
            "units": pc.cast(units, pa.int64()),
            "value": rows["value"],
        }
    ).filter(pc.greater(pc.multiply(pc.add(hour_bucket, 3600), 1000), late_before_ms))
    folded = state.group_by(["device_id", "hour_bucket"], use_threads=False).aggregate(
        [("units", "sum"), ([], "count_all"), ("value", "max"), ("value", "min")]
    )
    return pa.table(
        {
            "device_id": folded["device_id"],
            "hour_bucket": folded["hour_bucket"],
            "sum_units": folded["units_sum"],
            "event_count": folded["count_all"],
            "max_value": folded["value_max"],
            "min_value": folded["value_min"],
            PARTIAL: pa.repeat(True, folded.num_rows),
        }
    )


def _late_before_ms(checkpoint_dir: str, batch_id: int) -> int:
    """The watermark Spark's stateful aggregation drops late windows
    by in batch ``batch_id``: the ``batchWatermarkMs`` that the
    checkpoint's offset log holds for the batch before (0 for the
    first). Read from disk, so a replayed batch drops the same rows."""
    if batch_id == 0:
        return 0
    with open(os.path.join(checkpoint_dir, "offsets", str(batch_id - 1))) as fh:
        fh.readline()  # the log's format version
        return int(json.loads(fh.readline())["batchWatermarkMs"])


def run_pipeline(
    spark: SparkSession,
    staged_dir: str,
    out_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> dict:
    """The reference pipeline as one ``availableNow`` query off the
    watermarked source, blocking until the bounded replay completes.
    Each micro-batch is collected once as Arrow, and the driver lands
    its raw rows and its hourly partials (:func:`hourly_partials`) at
    the batch's epoch (``ParquetUpsertSink.append_arrow``). Returns the
    two sinks (raw + agg) for reading and the query's per-micro-batch
    ``progress`` rows."""
    out_dir = out_dir or tempfile.mkdtemp(prefix="spark_graft_pipeline_")
    raw_sink, agg_sink = ingest_sinks(out_dir)
    checkpoint = os.path.join(out_dir, "ckpt_ingest")

    def land(batch: DataFrame, epoch_id: int) -> None:
        with _stream_tagged(batch.sparkSession, checkpoint):
            rows = batch.toArrow()
        raw_sink.append_arrow(rows, epoch_id)
        partials = hourly_partials(rows, _late_before_ms(checkpoint, epoch_id))
        agg_sink.append_arrow(partials, epoch_id)

    # the projection is part of the query's plan, so a batch arrives as
    # raw rows and is not re-analysed over py4j in every trigger
    q = run_foreach_batch(
        raw_rows(
            read_event_stream(spark, staged_dir, max_files_per_trigger).withWatermark(
                "ts", WATERMARK_DELAY
            )
        ),
        land,
        checkpoint,
    )
    q.awaitTermination()
    return {
        "raw": raw_sink,
        "agg": agg_sink,
        "progress": {"ingest": query_progress(q)},
    }


@contextmanager
def _stream_tagged(spark: SparkSession, checkpoint_dir: str):
    """Tag the Spark jobs of the block with the stream's query id (from
    the checkpoint's metadata). With pinned py4j threads, PySpark's
    default, a ``foreachBatch`` call runs on the stream's JVM thread,
    which carries the tag already; without them no JVM thread is bound
    to a Python thread, and the block's jobs would go untagged."""
    sc = spark.sparkContext
    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        query_id = json.load(fh)["id"]
    before = sc.getLocalProperty(QUERY_ID)
    sc.setLocalProperty(QUERY_ID, query_id)
    try:
        yield
    finally:
        sc.setLocalProperty(QUERY_ID, before)


def query_progress(q) -> list[dict]:
    """Compact per-micro-batch timing rows from a (finished) streaming
    query's ``recentProgress`` — the attribution surface the bench
    records so a round-over-round pipeline delta decomposes into which
    batches (and which phase: addBatch; the checkpoint's offset-log
    write ``walCommit``, commit-log write ``commitOffsets`` and source
    listing ``latestOffset``; state commit) moved, instead of one
    opaque events/s number (r5 verdict item #1). Driver-side metadata
    only (Spark keeps the last 100 progress events in memory); no
    executor work."""
    rows = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        dur = d.get("durationMs") or {}
        state = d.get("stateOperators") or []
        rows.append(
            {
                "batch_id": d.get("batchId"),
                "input_rows": d.get("numInputRows"),
                "trigger_ms": dur.get("triggerExecution"),
                "add_batch_ms": dur.get("addBatch"),
                "wal_commit_ms": dur.get("walCommit"),
                "commit_offsets_ms": dur.get("commitOffsets"),
                "latest_offset_ms": dur.get("latestOffset"),
                "state_commit_ms": sum(
                    s.get("commitTimeMs") or 0 for s in state
                ),
                "state_rows": sum(s.get("numRowsTotal") or 0 for s in state),
            }
        )
    return rows


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing entry: replay the events fixture as micro-batches,
    run the watermarked streaming rollup through the upsert sink, and
    return the reconciled result — which must equal the *batch*
    hourly_rollup (same oracle), proving streaming/batch semantic parity.

    Stateful-query cost is dominated by state-store commits: one per
    state partition per micro-batch. For this bounded fixture replay the
    state partition count is dropped to 8 for the query's lifetime (the
    checkpoint pins it at first start), and batches carry
    REPLAY_FILES_PER_TRIGGER day-files (a single availableNow batch on
    the current ~30-file sf0.1 staging; 8->16 files/trigger measured
    2.6x on the stream-stream join at sf0.1, 16->32 another 1.6x —
    results identical at any granularity, and multi-batch state
    semantics are exercised in tests/test_streaming.py). Batches stay
    time-ordered and day-disjoint.
    """
    from .staging import stage_events_stream

    staged = stage_events_stream(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="spark_graft_stream_agg_")
    sink = ParquetUpsertSink(
        os.path.join(out_dir, "hourly_aggregates"), pk=("device_id", "hour_bucket")
    )
    # update mode: every group is emitted in its data batch, so the
    # trailing no-data batch (state eviction only) is skipped — see
    # bounded_replay_confs for the measurement and the safety argument.
    with bounded_replay_confs(spark):
        q = hourly_agg_query(
            read_event_stream(spark, staged, max_files_per_trigger=REPLAY_FILES_PER_TRIGGER),
            sink,
            os.path.join(out_dir, "ckpt"),
        )
        q.awaitTermination()
    # update-mode aggregation emits each group at most once per batch,
    # so the single-epoch replay read can skip the reconcile window
    # (multi-epoch replays keep it — sinks.read falls back by itself).
    return sink.read(spark, unique_within_epoch=True)


def streaming_raw_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing entry: raw passthrough under the at-least-once
    worst case — every record is delivered TWICE (two file sources over
    the same staging) and ``dropDuplicatesWithinWatermark`` drops the
    re-deliveries in-stream before the sink (streaming/dedup.py), so
    the result still equals a batch projection of the source. The
    sink's PK upsert stays on as the second layer, mirroring the
    reference's Kafka at-least-once + Cassandra LWW pair; the in-stream
    layer is what keeps duplicate volume out of the sink shuffle at
    scale. tests/test_streaming.py asserts the sink *log* (not just the
    reconciled view) carries each event once."""
    from .dedup import dedup_within_watermark, double_delivery
    from .staging import stage_events_stream

    staged = stage_events_stream(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="spark_graft_stream_raw_")
    sink = ParquetUpsertSink(
        os.path.join(out_dir, "sensor_events"), pk=("user_id", "ts", "event_id")
    )
    # arrival-time dedup: rows emit on first arrival, so the trailing
    # no-data batch (state eviction only) is skipped — see
    # bounded_replay_confs. State partitions pinned at 8 like the other
    # bounded replays (this entry alone had been running its dedup
    # state at the session's 32 — 32 RocksDB opens+commits per batch;
    # interleaved A/B at sf0.1: w8 min 2.84 / med 3.57 vs w32 min 5.14
    # / med 10.08).
    with bounded_replay_confs(spark):
        q = raw_passthrough_query(
            dedup_within_watermark(
                double_delivery(
                    spark, staged, max_files_per_trigger=REPLAY_FILES_PER_TRIGGER
                )
            ),
            sink,
            os.path.join(out_dir, "ckpt"),
        )
        q.awaitTermination()
    # the in-stream arrival-time dedup guarantees each PK appears once
    # in the whole replay (a fortiori once per epoch): single-epoch
    # reads skip the reconcile window.
    return sink.read(spark, unique_within_epoch=True).select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def streaming_sessionize_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing entry for the custom stateful operator
    (streaming/stateful.py): bounded replay, emits closed sessions.
    Oracle: the batch sessionization minus each user's open last
    session."""
    import uuid

    from .stateful import streaming_sessionize
    from .staging import stage_events_stream

    staged = stage_events_stream(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="spark_graft_stream_sess_")
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streaming_sessionize(
                read_event_stream(spark, staged, max_files_per_trigger=REPLAY_FILES_PER_TRIGGER)
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)
