"""Continuously-maintained DDSketch quantiles — the streaming form of
``operators/quantiles.py`` through the shared delta+base store: each
micro-batch lands its per-group bucket counts as an epoch delta (sum
fold — the gram-count algebra), and quantile estimates are read from
the folded buckets.

Why this store completes the quantile family: the seasonal-baseline
store (streaming/baselines.py) is EXACT but bounded by the value
DOMAIN (fixed-precision grid); this one is alpha-relative-error but
bounded by the value RANGE RATIO — the right trade for long-tailed
latencies/sizes where the exact grid would be the value set itself.

Store shape (store.py lifecycle): ``<dir>/buckets/epoch=N`` rows
(group..., sgn, idx, cnt); fold = re-sum (associative — tail
compaction applies). Replay-idempotent; per-epoch write work is ONE
batch-local map-side-combined aggregation, zero store-side reads.
Same-engine gates by contract (the approx family's oracle refusal):
streamed ≡ one-pass batch sketch exactly; the alpha bound is pinned
against exact percentiles in the batch module's tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.quantiles import (
    collapse_sketch,
    dd_quantiles_from_sketch,
    dd_sketch,
)
from ..store import MergeableStore, declared_types, run_foreach_batch
from .staging import read_staged


class QuantilePipeline(MergeableStore):
    """foreachBatch-shaped quantile maintainer; see module docstring.
    ``write_batch`` per epoch, then :meth:`quantiles` for live
    estimates (≡ the one-pass batch sketch over the concatenated
    events, pinned in tests)."""

    def __init__(
        self,
        base_dir: str,
        group_cols: Sequence[str] = ("event_type",),
        value_col: str = "value",
        alpha: float = 0.01,
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
        max_buckets: int | None = None,
    ) -> None:
        self.group_cols = list(group_cols)
        types = declared_types(
            updates_schema, {c: "STRING" for c in self.group_cols}, "quantiles"
        )
        fields = ", ".join(f"{c} {types[c]}" for c in self.group_cols)
        super().__init__(
            f"{base_dir}/buckets",
            f"{fields}, sgn INT, idx BIGINT, cnt BIGINT",
            compact_every,
        )
        self.base_dir = base_dir
        self.value_col = value_col
        self.alpha = alpha
        self.max_buckets = max_buckets
        self.buckets_dir = self.path

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return dd_sketch(
            batch_df,
            self.group_cols,
            self.value_col,
            self.alpha,
            self.max_buckets,
        )

    def fold(self, df: DataFrame) -> DataFrame:
        """Bucket-count sum (collapsed to ``max_buckets`` when set) —
        associative, so compaction leaves every estimate bitwise
        unchanged."""
        if self.max_buckets is not None:
            return collapse_sketch(df, self.group_cols, self.max_buckets)
        return df.groupBy(*self.group_cols, "sgn", "idx").agg(
            F.sum("cnt").alias("cnt")
        )

    # -- reads ------------------------------------------------------------
    def sketch(self, spark: SparkSession) -> DataFrame:
        """The folded per-group bucket counts (empty-safe); with
        ``max_buckets`` set, the read-side fold collapses too —
        merge invariance makes the result identical to collapsing the
        full one-pass sketch (pinned in tests)."""
        return self.read(spark)

    def quantiles(
        self, spark: SparkSession, qs: Sequence[float] = (0.5, 0.95, 0.99)
    ) -> DataFrame:
        """(group..., q, est): live estimates from the folded store."""
        return dd_quantiles_from_sketch(
            self.sketch(spark),
            self.group_cols,
            qs,
            self.alpha,
            self.max_buckets,
        )


def streaming_quantiles(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    alpha: float = 0.01,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
    max_buckets: int | None = None,
):
    """Wire a staged event-log directory through the quantile
    maintainer (file order = ingest order, the streaming/dedup.py
    convention). Returns the started StreamingQuery; read live
    estimates with ``QuantilePipeline(base_dir, ...).quantiles``."""
    pipe = QuantilePipeline(
        base_dir,
        group_cols,
        value_col,
        alpha,
        compact_every=compact_every,
        updates_schema=events_schema,
        max_buckets=max_buckets,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
