"""User-facing engine facade — the migration target for reference users.

The reference's operational surface is: run the pipeline (producer ->
Kafka -> Spark -> Cassandra), then serve CQL reads against
``sensor_events`` / ``hourly_aggregates`` and watch counts in monitor.sh
(reference: iot-cassandra-pipeline/README.md:113-117,
monitoring/cassandra_latency_check.py:13, monitoring/monitor.sh:79-88).
``IoTEngine`` exposes that exact surface over engine-managed parquet
tables:

    engine = IoTEngine(spark, warehouse_dir)
    engine.ingest_stream(staged_dir)       # the streaming ingest
    engine.ingest_batch(events_df)         # bounded backfill form
    engine.latest_events(device_id, 100)   # the latency-probe read
    engine.hourly_aggregates(device_id)    # the dashboard read
    engine.device_hourly_range(id, a, b)   # clustering-key range read
    engine.table_counts()                  # monitor.sh's SELECT COUNT(*)
    engine.compact()                       # maintenance (compaction)

Every read runs against the PK-reconciled view (Cassandra last-write-
wins semantics, with the hourly partials of ``ingest_stream`` folded);
re-ingesting the same data is idempotent. The three
single-device reads are served on the driver from the sink's part files
with pyarrow, with no Spark job, unless the device's matching row groups
exceed the sink's row bound; then they run as Spark plans.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .litframe import literal_frame
from .operators.agg import hourly_rollup
from .streaming.pipeline import ingest_sinks, raw_rows, run_pipeline
from .streaming.sinks import ParquetUpsertSink


class IoTEngine:
    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.raw_sink, self.agg_sink = ingest_sinks(warehouse_dir)

    # --- ingest ---------------------------------------------------------
    def ingest_stream(
        self, staged_dir: str, max_files_per_trigger: int = 4
    ) -> dict:
        """The reference pipeline over a replayable source, as one
        streaming query: each micro-batch lands its raw rows and its
        watermarked hourly partials in this engine's tables. Returns
        run_pipeline's result (sinks + per-micro-batch ``progress``
        timings)."""
        return run_pipeline(
            self.spark,
            staged_dir,
            out_dir=self.warehouse_dir,
            max_files_per_trigger=max_files_per_trigger,
        )

    def ingest_batch(self, events: DataFrame, epoch_id: int = 0) -> None:
        """Bounded backfill: same tables, batch plans (used for
        reprocessing; idempotent by PK upsert). Its hourly rows are
        complete rows: they replace every older row of their PK,
        partials included."""
        self.raw_sink.write_batch(raw_rows(events), epoch_id)
        self.agg_sink.write_batch(hourly_rollup(events), epoch_id)

    # --- serving reads ---------------------------------------------------
    def sensor_events(self) -> DataFrame:
        return self.raw_sink.read(self.spark)

    def hourly(self) -> DataFrame:
        return self.agg_sink.read(self.spark)

    def latest_events(self, device_id: int, limit: int = 100) -> DataFrame:
        """The latency-probe read: WHERE device_id = ? ORDER BY ts DESC
        LIMIT n (reference: cassandra_latency_check.py:13)."""
        return self._device_read(
            self.raw_sink,
            "user_id",
            device_id,
            lambda rows: rows.sort_by(
                [("ts", "descending"), ("event_id", "descending")]
            ).slice(0, limit),
            lambda: self.sensor_events()
            .filter(F.col("user_id") == F.lit(device_id))
            .orderBy(F.col("ts").desc(), F.col("event_id").desc())
            .limit(limit),
        )

    def hourly_aggregates(self, device_id: int) -> DataFrame:
        """Dashboard read: all hourly buckets for a device, newest first
        (the hourly_aggregates clustering order, init.cql:48-49). On
        Spark, one device's buckets are a few dozen rows, so they are
        sorted in one partition rather than by a global range-
        partitioned sort (and its sampling job); ``hour_bucket`` is
        unique per device after the reconcile, so the order is total."""
        return self._device_read(
            self.agg_sink,
            "device_id",
            device_id,
            lambda rows: rows.sort_by([("hour_bucket", "descending")]),
            lambda: self.hourly()
            .filter(F.col("device_id") == F.lit(device_id))
            .coalesce(1)
            .sortWithinPartitions(F.col("hour_bucket").desc()),
        )

    def device_hourly_range(
        self, device_id: int, start_bucket: int, end_bucket: int
    ) -> DataFrame:
        """Clustering-key range read on the rollup table (no row order
        is promised; the driver path returns the clustering order)."""
        return self._device_read(
            self.agg_sink,
            "device_id",
            device_id,
            lambda rows: rows.filter(
                (pc.field("hour_bucket") >= start_bucket)
                & (pc.field("hour_bucket") <= end_bucket)
            ).sort_by([("hour_bucket", "descending")]),
            lambda: self.hourly().filter(
                (F.col("device_id") == F.lit(device_id))
                & F.col("hour_bucket").between(start_bucket, end_bucket)
            ),
        )

    def _device_read(
        self,
        sink: ParquetUpsertSink,
        column: str,
        device_id: int,
        finish: Callable[[pa.Table], pa.Table],
        plan: Callable[[], DataFrame],
    ) -> DataFrame:
        """One device's serving read. When ``sink.lookup`` serves the
        device's last-write-wins rows, ``finish`` sorts / limits /
        filters them on the driver and the result is a LocalRelation
        (collecting it runs no Spark job) with the schema the Spark read
        has; otherwise (no part files, or more matching rows than the
        sink's driver bound) the Spark ``plan`` runs."""
        rows = sink.lookup(self.spark, column, device_id)
        if rows is None:
            return plan()
        rows = finish(rows)
        return self.spark.createDataFrame(rows, from_arrow_schema(rows.schema))

    # --- monitoring ------------------------------------------------------
    def table_counts(self) -> dict[str, int]:
        """monitor.sh's verification counts (reference: monitor.sh:79-88)."""
        counts = {}
        for name, sink in (("sensor_events", self.raw_sink), ("hourly_aggregates", self.agg_sink)):
            counts[name] = sink.read(self.spark).count() if sink.exists() else 0
        return counts

    def table_stats(self) -> DataFrame:
        """Storage-health view: files/bytes/rows per table (the engine's
        answer to the reference's SSTable dashboards)."""
        import glob

        rows = []
        for name, sink in (("sensor_events", self.raw_sink), ("hourly_aggregates", self.agg_sink)):
            files = glob.glob(os.path.join(sink.path, "**", "*.parquet"), recursive=True)
            rows.append(
                (
                    name,
                    len(files),
                    sum(os.path.getsize(f) for f in files),
                    sink.read(self.spark).count() if sink.exists() else 0,
                    sink.sink_options.get("consistency_level", ""),
                )
            )
        return literal_frame(
            self.spark,
            rows,
            "table string, n_files long, n_bytes long, n_rows long, consistency string",
        )

    def latency_probe(self, device_ids: list[int], limit: int = 100) -> DataFrame:
        """The reference's read-latency probe (reference:
        monitoring/cassandra_latency_check.py:5-21): time the
        point-lookup read per device, return (device_id, n_rows,
        latency_ms). Driver-side timing of an action, like the original
        perf_counter loop."""
        import time

        rows = []
        for device_id in device_ids:
            t0 = time.perf_counter()
            n = len(self.latest_events(device_id, limit).collect())
            rows.append((device_id, n, (time.perf_counter() - t0) * 1000.0))
        return literal_frame(
            self.spark, rows, "device_id long, n_rows long, latency_ms double"
        )

    # --- maintenance -----------------------------------------------------
    def compact(self) -> None:
        for sink in (self.raw_sink, self.agg_sink):
            if sink.exists():
                sink.compact(self.spark)
