"""Continuously-maintained cohort retention — the streaming form of
``operators/cohorts.py``, completing the family the way the dedup /
ANN / SCD2 / substring pipelines stream their batch operators: each
micro-batch of events lands its distinct (key, period) points as an
epoch delta; the retention matrix is computed ON READ over the folded
point store.

Why this shape: the matrix is a non-monotone aggregate (a user's
cohort can only move EARLIER as late events arrive, shifting whole
rows), so maintaining it incrementally per epoch would re-derive
user-level state anyway. The store is instead the minimal sufficient
statistic — the distinct (k, pi) set, idempotent under replay and
union-order-free — and the matrix aggregation (two exchanges over
per-user period sets, operators/cohorts.py's pinned plan) runs only
when someone asks for it.

Store shape (the shared delta+base lifecycle, store.py):

- ``<dir>/pts/epoch=N/``   the batch's own distinct (k, pi) points
- ``<dir>/pts/base_upto=K/`` at most one compacted base (fold =
  distinct — idempotent and order-free, so compaction provably
  changes nothing any reader can see)

Idempotence: a replayed epoch rewrites identical content (the point
projection is stateless), and distinct-of-union == union-of-distincts
makes the read independent of epoch boundaries — pinned in tests
against one batch ``retention_matrix`` over the concatenated events.

Scale: the per-epoch write is ONE batch-local distinct — the store is
never read in the write path at all (the only pipeline here with
zero store-side work per epoch); compaction bounds the read-side
union at one base + recent deltas, and the distinct fold collapses
the store to one row per (user, period) forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.cohorts import (
    WEEK_SECONDS,
    period_points,
    retention_matrix_from_pts,
)
from ..store import MergeableStore, declared_types, run_foreach_batch
from .staging import read_staged


class CohortPipeline(MergeableStore):
    """foreachBatch-shaped retention maintainer; see module docstring.
    ``write_batch`` per epoch, then :meth:`matrix` for the live
    retention matrix (bit-identical to the batch operator over the
    same events, pinned in tests)."""

    def __init__(
        self,
        base_dir: str,
        key: str = "user_id",
        ts_col: str = "ts",
        period_seconds: int = WEEK_SECONDS,
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
    ) -> None:
        ktype = declared_types(updates_schema, {key: "BIGINT"}, "cohorts")[key]
        super().__init__(
            f"{base_dir}/pts", f"k {ktype}, pi BIGINT", compact_every
        )
        self.base_dir = base_dir
        self.key = key
        self.ts_col = ts_col
        self.period_seconds = period_seconds
        self.pts_dir = self.path

    # -- reads ----------------------------------------------------------
    def points(self, spark: SparkSession) -> DataFrame:
        """The folded distinct (k, pi) store (empty-safe)."""
        return self.read(spark)

    def matrix(self, spark: SparkSession) -> DataFrame:
        """The live retention matrix — the batch operator's pinned
        aggregation over the point store (collect_set dedups, so the
        pre-distinct is free correctness, not a required pass)."""
        return retention_matrix_from_pts(self.points(spark))

    def rolling_active(
        self, spark: SparkSession, window_periods: int = 7
    ) -> DataFrame:
        """Live rolling distinct actives (DAU/WAU/MAU) over the same
        point store — bit-identical to the batch operator over the
        concatenated events (pinned in tests)."""
        from ..operators.cohorts import rolling_active_from_pts

        return rolling_active_from_pts(
            self.points(spark), window_periods, self.period_seconds
        )

    def growth_accounting(self, spark: SparkSession) -> DataFrame:
        """Live growth decomposition (new/retained/resurrected/
        churned) over the same point store — bit-identical to the
        batch operator over the concatenated events (pinned in
        tests)."""
        from ..operators.cohorts import growth_accounting_from_pts

        return growth_accounting_from_pts(self.points(spark))

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """The batch's distinct (k, pi) points — a stateless projection,
        so a replayed epoch rewrites identical content (idempotent by
        content, not just by bookkeeping)."""
        return period_points(
            batch_df, self.key, self.ts_col, self.period_seconds
        ).distinct()

    def fold(self, df: DataFrame) -> DataFrame:
        """Distinct — the reader applies the same fold, so compaction
        is invisible (pinned in tests)."""
        return df.distinct()


def streaming_cohorts(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    key: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int = WEEK_SECONDS,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged event-log directory through the cohort maintainer
    (file order = ingest order, the streaming/dedup.py convention).
    Returns the started StreamingQuery; read the live matrix with
    ``CohortPipeline(base_dir, ...).matrix(spark)``."""
    pipe = CohortPipeline(
        base_dir,
        key,
        ts_col,
        period_seconds,
        compact_every=compact_every,
        updates_schema=events_schema,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
