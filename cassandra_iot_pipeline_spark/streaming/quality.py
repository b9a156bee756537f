"""Continuously-maintained score distribution — streaming percentile
thresholds for quality gating: the corpus lands in micro-batches, and
"keep the top X% by quality" needs the X%-threshold of EVERYTHING seen
so far, not of one batch. Per-score counts are sum-mergeable, so the
minimal sufficient statistic is a (score, count) frame folded across
epochs — the same delta+base store the gram counts use
(streaming/substrings.py), with the same bounded-domain contract:
scores are floored onto a 10^-d grid at ingest
(sampling.score_thresholds' ``quantize_decimals`` rule), so the store
is capped at the grid's cardinality however many documents ever land.

Store shape:

- ``<dir>/dist/epoch=N/``   (s DOUBLE, c BIGINT) — the batch's own
  quantized score counts
- ``<dir>/dist/base_upto=K/`` at most one compacted base (per-score
  sum fold — associative, compaction invisible to every reader)

Idempotence: the projection is stateless, so a replayed epoch
rewrites identical content (overwrite). Thresholds come from
``sampling.thresholds_from_counts`` over the folded store — pinned in
tests bit-identical to the batch ``score_thresholds`` over the
concatenated documents at the same grid.

Scale: the per-epoch write is one batch-local groupBy over the grid
(partial-aggregable, at most grid-cardinality rows); the store is
never read in the write path. Threshold reads fold base + recent
deltas — grid-bounded whatever the corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sampling import thresholds_from_counts
from ..store import MergeableStore

DIST_SCHEMA = "s DOUBLE, c BIGINT"


class ScoreDistPipeline(MergeableStore):
    """foreachBatch-shaped score-distribution maintainer; see module
    docstring. ``write_batch`` per epoch of scored rows, then
    :meth:`threshold` for the live top-fraction cut line."""

    def __init__(
        self,
        base_dir: str,
        score_col: str = "quality_score",
        quantize_decimals: int = 6,
        compact_every: int | None = None,
    ) -> None:
        super().__init__(f"{base_dir}/dist", DIST_SCHEMA, compact_every)
        self.base_dir = base_dir
        self.score_col = score_col
        self.quantize_decimals = quantize_decimals
        self.dist_dir = self.path

    # -- reads ----------------------------------------------------------
    def distribution(self, spark: SparkSession) -> DataFrame:
        """The folded (s, c) distribution so far (empty-safe; at most
        grid-cardinality rows)."""
        return self.read(spark)

    def threshold(
        self, spark: SparkSession, keep_frac: float
    ) -> DataFrame:
        """(n_rows, k_target, threshold): the live cut line — keep
        rows with score >= threshold to retain the top ``keep_frac``
        of everything landed so far (grid-floored, one-sided: at
        least the target survives)."""
        return thresholds_from_counts(
            self.distribution(spark), "s", keep_frac, count_col="c"
        )

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        grid = float(10**self.quantize_decimals)
        return (
            batch_df.filter(F.col(self.score_col).isNotNull())
            .select(
                (F.floor(F.col(self.score_col) * F.lit(grid)) / F.lit(grid))
                .alias("s")
            )
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    def fold(self, df: DataFrame) -> DataFrame:
        """Per-score sum — associative, so compaction (full or tail)
        is invisible to every threshold read."""
        return df.groupBy("s").agg(F.sum("c").alias("c"))
