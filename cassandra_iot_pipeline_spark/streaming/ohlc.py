"""Continuously-maintained OHLC candles — the streaming form of
``operators/timeseries.py::ohlc_bars`` through the shared delta+base
store lifecycle.

Why this works exactly: a candle is an ASSOCIATIVE algebra. Each
epoch's partial bar per (key, bucket) carries
(open, open_ok, high, low, close, close_ok, n) where the ``_ok``
columns are the batch operator's exact DECIMAL(38,0) ordering key
(``t_us * 10^19 + id``); merging two partials is
min_by/max/min/max_by/sum — the same operations that built them — so
fold order cannot matter and the folded store is BITWISE equal to one
batch ``ohlc_bars`` over the concatenated events (pinned in tests).
Compare the cohort store (fold = distinct) and the gram-count store
(fold = sum): this one completes the algebra family with an
order-statistic fold.

Store shape (store.py lifecycle):

- ``<dir>/bars/epoch=N/``     the batch's partial bars
- ``<dir>/bars/base_upto=K/`` at most one compacted base; the fold is
  the reader's own merge, so compaction is reader-invisible by
  associativity

Per-epoch write work is batch-local (one map-side-combined hash
aggregation; the store is never read in the write path — the
zero-store-side-work class). Store rows are bounded by |key × bucket|
touched per epoch; compaction collapses to one row per (key, bucket)
forever. Like the gram-count store, counts are additive, so the
at-least-once caveat is the staged-file convention's to keep: a
replayed EPOCH is idempotent (dir overwrite), but the same event
re-delivered under two different epoch ids would double-count — land
each event in exactly one staged file.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..store import MergeableStore, declared_types, run_foreach_batch
from .staging import read_staged

HOUR_SECONDS = 3600


class OhlcPipeline(MergeableStore):
    """foreachBatch-shaped candle maintainer; see module docstring.
    ``write_batch`` per epoch, then :meth:`bars` for the live candles
    (bitwise equal to the batch operator over the same events)."""

    def __init__(
        self,
        base_dir: str,
        key: str | Sequence[str] = "user_id",
        ts_col: str = "ts",
        value_col: str = "value",
        id_col: str = "event_id",
        bucket_seconds: int = HOUR_SECONDS,
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
    ) -> None:
        self.keys = [key] if isinstance(key, str) else list(key)
        types = declared_types(
            updates_schema, {c: "BIGINT" for c in self.keys}, "ohlc"
        )
        fields = ", ".join(f"{c} {types[c]}" for c in self.keys)
        super().__init__(
            f"{base_dir}/bars",
            f"{fields}, bucket_s BIGINT, open DOUBLE,"
            " open_ok DECIMAL(38,0), high DOUBLE, low DOUBLE,"
            " close DOUBLE, close_ok DECIMAL(38,0), n_events BIGINT",
            compact_every,
        )
        self.base_dir = base_dir
        self.ts_col = ts_col
        self.value_col = value_col
        self.id_col = id_col
        self.bucket_seconds = bucket_seconds
        self.bars_dir = self.path
        self.group_cols = [*self.keys, "bucket_s"]

    # -- the store's algebra ------------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """The batch's partial bars (a stateless projection, so a
        replayed epoch rewrites identical content)."""
        p = int(self.bucket_seconds) * 1_000_000
        ts, idc, v = self.ts_col, self.id_col, self.value_col
        ordk = (
            F.unix_micros(F.col(ts)).cast("decimal(38,0)")
            * F.expr("cast(10000000000000000000 as decimal(38,0))")
            + F.col(idc).cast("decimal(38,0)")
        )
        base = batch_df.filter(
            F.col(v).isNotNull() & F.col(idc).isNotNull()
        ).select(
            *self.keys,
            (
                F.expr(
                    f"(unix_micros({ts}) - pmod(unix_micros({ts}), {p}))"
                    f" div {p}"
                )
                * F.lit(self.bucket_seconds)
            ).alias("bucket_s"),
            F.col(v).alias("_v"),
            ordk.alias("_ok"),
        )
        return base.groupBy(*self.group_cols).agg(
            F.min_by("_v", "_ok").alias("open"),
            F.min("_ok").alias("open_ok"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.max_by("_v", "_ok").alias("close"),
            F.max("_ok").alias("close_ok"),
            F.count(F.lit(1)).alias("n_events"),
        )

    def fold(self, df: DataFrame) -> DataFrame:
        """The candle merge: the same operations that built the
        partials, so fold order (and compaction) cannot matter."""
        return df.groupBy(*self.group_cols).agg(
            F.min_by("open", "open_ok").alias("open"),
            F.min("open_ok").alias("open_ok"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "close_ok").alias("close"),
            F.max("close_ok").alias("close_ok"),
            F.sum("n_events").alias("n_events"),
        )

    # -- reads ------------------------------------------------------------
    def bars(self, spark: SparkSession) -> DataFrame:
        """The live candles: fold base + deltas with the merge algebra
        and project the batch operator's exact output shape."""
        return self.read(spark).select(
            *self.keys, "bucket_s", "open", "high", "low", "close",
            "n_events",
        )


def streaming_ohlc(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    key: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket_seconds: int = HOUR_SECONDS,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged event-log directory through the candle maintainer
    (file order = ingest order, the streaming/dedup.py convention).
    Returns the started StreamingQuery; read the live candles with
    ``OhlcPipeline(base_dir, ...).bars(spark)``."""
    pipe = OhlcPipeline(
        base_dir,
        key,
        ts_col,
        value_col,
        id_col,
        bucket_seconds,
        compact_every=compact_every,
        updates_schema=events_schema,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
