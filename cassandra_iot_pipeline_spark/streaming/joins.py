"""Stream-stream join (beyond the reference's surface).

Two watermarked streams over the same event replay: views joined to
purchases by the same user within (view_ts, view_ts + 1h]. Spark buffers
both sides in the state store and evicts by the watermark + time-range
condition — the standard funnel-correlation topology.

For the bounded day-ordered replay the result equals the *batch* range
join exactly (a buffered view is evicted only once the watermark passes
view_ts + window, and day-disjoint batches keep every joinable pair's
buffer alive until its partner arrives), so the driver query carries the
same full SQL oracle as conversion_pairs. Sink PK (view_event_id,
purchase_event_id) makes re-delivery idempotent, as everywhere else.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import run_foreach_batch
from .pipeline import REPLAY_FILES_PER_TRIGGER, read_event_stream
from .sinks import ParquetUpsertSink

WINDOW_S = 3600
WATERMARK = "1 minute"


def conversion_join_query(
    views_stream: DataFrame,
    purchases_stream: DataFrame,
    sink: ParquetUpsertSink,
    checkpoint_dir: str,
    window_s: int = WINDOW_S,
):
    views = (
        views_stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_event_id"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        purchases_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    # The range bound must be native timestamp arithmetic
    # (ts + INTERVAL), not unix_micros comparisons: StreamingJoinHelper
    # can only extract a state-value watermark from interval-form
    # conditions. With micros arithmetic it logged "Failed to extract
    # state value watermark" and the view-side buffer was evicted only
    # by the coarse event-time watermark — state grew with the full
    # join window on both sides. Semantically identical (whole-second
    # interval adds are microsecond-exact).
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.make_interval(secs=F.lit(window_s))
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        F.unix_micros(F.col("view_ts")).alias("view_us"),
        F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
        F.floor(
            (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("view_ts")))
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("gap_s"),
        "purchase_value",
    )
    return run_foreach_batch(
        joined, sink.write_batch, checkpoint_dir, output_mode="append"
    )


def enriched_stream_query(
    events_stream: DataFrame,
    customers: DataFrame,
    sink: ParquetUpsertSink,
    checkpoint_dir: str,
):
    """Stream-static enrichment join — the other half of the join
    topology pair: the dimension side is a *batch* DataFrame re-read
    and broadcast per micro-batch, so the join involves no state store
    at all (assert: empty stateOperators in progress), no watermark,
    and dimension updates are picked up on the next trigger — exactly
    Cassandra's "read the device metadata table on every lookup"
    behavior (init.cql devices table) in streaming form. Left join:
    events with no dimension row pass through with NULLs, the standard
    contract for late-arriving dimension members.

    At 100 TB the static side is a dimension (thousands-to-millions of
    rows): broadcast keeps the fact stream shuffle-free; if a dimension
    ever outgrows broadcast, drop the hint and Spark plans a per-batch
    shuffle join — same semantics."""
    dim = F.broadcast(
        customers.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )
    enriched = events_stream.join(dim, "user_id", "left").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        F.col("value").cast("double").alias("value"),
        "segment",
        "acctbal",
    )
    return run_foreach_batch(
        enriched, sink.write_batch, checkpoint_dir, output_mode="append"
    )


def streaming_conversion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing entry: bounded stream-stream join over the staged
    replay; equals the batch range join (operators/rangejoin.py) —
    same oracle."""
    from .staging import stage_events_stream

    staged = stage_events_stream(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="spark_graft_ssjoin_")
    sink = ParquetUpsertSink(
        os.path.join(out_dir, "conversions"),
        pk=("view_event_id", "purchase_event_id"),
    )
    # INNER join: pairs emit in the batch where both sides are present,
    # so the trailing no-data batch (buffer eviction only) is skipped —
    # see pipeline.bounded_replay_confs for measurement + safety.
    from .pipeline import bounded_replay_confs

    with bounded_replay_confs(spark):
        q = conversion_join_query(
            read_event_stream(spark, staged, max_files_per_trigger=REPLAY_FILES_PER_TRIGGER),
            read_event_stream(spark, staged, max_files_per_trigger=REPLAY_FILES_PER_TRIGGER),
            sink,
            os.path.join(out_dir, "ckpt"),
        )
        q.awaitTermination()
    if not sink.exists():
        # no qualifying pairs at this scale — return an empty frame with
        # the contract schema
        return spark.createDataFrame(
            [],
            "user_id long, view_event_id long, purchase_event_id long, "
            "view_us long, purchase_us long, gap_s long, purchase_value double",
        )
    # an INNER stream-stream join emits each matched (view, purchase)
    # pair exactly once, so epochs are PK-unique: single-epoch reads
    # skip the reconcile window (sinks.read falls back on multi-epoch).
    return sink.read(spark, unique_within_epoch=True).select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        "view_us",
        "purchase_us",
        "gap_s",
        "purchase_value",
    )
