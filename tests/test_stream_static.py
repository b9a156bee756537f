"""Stream-static enrichment join (streaming/joins.py): batch parity,
no state store, NULL pass-through for dimensionless events."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.streaming.joins import enriched_stream_query
from cassandra_iot_pipeline_spark.streaming.pipeline import (
    query_progress,
    read_event_stream,
)
from cassandra_iot_pipeline_spark.streaming.sinks import ParquetUpsertSink
from cassandra_iot_pipeline_spark.streaming.staging import stage_events_stream
from tests.conftest import SF_DIR


def test_stream_static_enrichment_equals_batch_join(spark):
    staged = stage_events_stream(spark, SF_DIR)
    customers = load_table(spark, SF_DIR, "customer")
    out = tempfile.mkdtemp(prefix="stream_static_")
    sink = ParquetUpsertSink(os.path.join(out, "enriched"), pk=("event_id",))
    q = enriched_stream_query(
        read_event_stream(spark, staged, max_files_per_trigger=8),
        customers,
        sink,
        os.path.join(out, "ckpt"),
    )
    q.awaitTermination()
    # every landed row observed from the query's own progress, without
    # any extra action (the reference re-counts each batch inside
    # foreachBatch to log it); before the sink cached the batch frame
    # across guard+write, this read 2x
    batches = query_progress(q)
    assert len(batches) >= 1
    assert sum(b["input_rows"] for b in batches) == (
        load_table(spark, SF_DIR, "events").count()
    )
    # the join is stateless: no state store operators in the progress
    progress = q.lastProgress
    assert progress is not None and progress["stateOperators"] == []

    got = sink.read(spark).select(
        "event_id", "user_id", "ts_us", "event_type", "value", "segment", "acctbal"
    )
    events = load_table(spark, SF_DIR, "events")
    dim = customers.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    want = events.join(dim, "user_id", "left").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        F.col("value").cast("double").alias("value"),
        "segment",
        "acctbal",
    )
    assert got.count() == events.count()  # left join: nothing dropped
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # fixture users below c_custkey 1 have no dimension row -> NULLs
    nulls = got.filter(F.col("segment").isNull()).count()
    want_nulls = want.filter(F.col("segment").isNull()).count()
    assert nulls == want_nulls
