"""Continuously-maintained weighted sample — the streaming form of
``functions/sampling.py::priority_sample`` through the shared
delta+base store lifecycle: a bounded, weight-proportional
without-replacement reservoir over an unbounded stream.

Why this folds exactly: a row's priority ``q = w / u`` is a PURE
function of its key (the u is a 53-bit hash uniform), so
priority-sampling is another associative store algebra — each epoch
lands its own top-(k+1) partial, and the fold is dedup-by-key +
top-(k+1) again. Two consequences the sibling stores don't get for
free:

- **cross-epoch re-delivery is exact**: the same key re-delivered
  under a DIFFERENT epoch id re-derives the identical priority, and
  the fold's key-dedup collapses it — no double-count caveat (compare
  the OHLC/gram-count stores, whose additive counts need the
  one-staged-file-per-event convention).
- **the compacted store is k+1 rows per group, forever**: the fold
  discards everything below the threshold row, and discarding is
  safe because a discarded row can never re-enter — its priority is
  fixed and already below k+1 ones that are staying.

If a key re-arrives with a CHANGED weight, both versions carry
distinct priorities and the key-dedup keeps the larger — i.e. the
larger weight wins. For strict sample semantics keep per-key weights
stable; the dedup rule is the documented tie-break, not a silent
choice.

Reader (:meth:`sample`): fold, rank, emit the k kept rows with the
DLT estimation weight ``est_w = max(w, tau)`` — live and bit-identical
to the batch operator over the concatenated, key-deduped input
(pinned in tests).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.sampling import _uniform53
from ..store import MergeableStore, declared_types, run_foreach_batch
from .staging import read_staged


class PrioritySamplePipeline(MergeableStore):
    """foreachBatch-shaped weighted-reservoir maintainer; see module
    docstring. ``write_batch`` per epoch, then :meth:`sample` for the
    live k-row weighted sample per group."""

    def __init__(
        self,
        base_dir: str,
        k: int,
        key: str = "event_id",
        weight: str = "value",
        group: str | Sequence[str] | None = None,
        seed: int = 0,
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
    ) -> None:
        self.groups = (
            [] if group is None
            else [group] if isinstance(group, str) else list(group)
        )
        types = declared_types(
            updates_schema,
            {key: "BIGINT", weight: "DOUBLE"}
            | {g: "BIGINT" for g in self.groups},
            "sample",
        )
        fields = ", ".join(f"{c} {types[c]}" for c in [key, *self.groups])
        super().__init__(
            f"{base_dir}/res",
            f"{fields}, {weight} {types[weight]}, _q DOUBLE",
            compact_every,
        )
        self.base_dir = base_dir
        self.k = k
        self.key = key
        self.weight = weight
        self.seed = seed
        self.res_dir = self.path

    # -- the store's algebra ------------------------------------------------
    def fold(self, df: DataFrame) -> DataFrame:
        """Dedup keys (identical priorities collapse; changed weights
        resolve to the larger priority) then keep each group's top
        k+1 priorities — the row beyond k is the threshold carrier."""
        wk = Window.partitionBy(*self.groups, self.key).orderBy(
            F.desc("_q")
        )
        dedup = (
            df.withColumn("_kr", F.row_number().over(wk))
            .filter(F.col("_kr") == 1)
            .drop("_kr")
        )
        if not self.groups:
            # distributed heap top-(k+1) — a global ranking window
            # would funnel the whole batch through one partition
            return dedup.orderBy(F.desc("_q")).limit(self.k + 1)
        wr = Window.partitionBy(*self.groups).orderBy(F.desc("_q"))
        return (
            dedup.withColumn("_rn", F.row_number().over(wr))
            .filter(F.col("_rn") <= self.k + 1)
            .drop("_rn")
        )

    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """The batch's own top k+1 by hash-pure priority (a stateless
        projection: a replay rewrites identical content)."""
        wcol = F.col(self.weight)
        return self.fold(
            batch_df.filter(wcol.isNotNull() & (wcol > 0)).select(
                self.key,
                *self.groups,
                self.weight,
                (
                    wcol.cast("double")
                    / _uniform53(F.col(self.key), self.seed)
                ).alias("_q"),
            )
        )

    # -- reads ---------------------------------------------------------------
    def sample(self, spark: SparkSession) -> DataFrame:
        """The live weighted sample: k rows per group with DLT
        estimation weights (empty-safe)."""
        folded = self.read(spark)
        wr = Window.partitionBy(*self.groups).orderBy(F.desc("_q"))
        wg = Window.partitionBy(*self.groups) if self.groups else (
            Window.partitionBy()
        )
        ranked = folded.withColumn("_rn", F.row_number().over(wr))
        tau = F.max(
            F.when(F.col("_rn") == self.k + 1, F.col("_q"))
        ).over(wg)
        return (
            ranked.withColumn("_tau", tau)
            .filter(F.col("_rn") <= self.k)
            .withColumn(
                "est_w",
                F.greatest(
                    F.col(self.weight).cast("double"),
                    F.coalesce(F.col("_tau"), F.lit(0.0)),
                ),
            )
            .drop("_q", "_rn", "_tau")
        )


def streaming_priority_sample(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    k: int,
    key: str = "event_id",
    weight: str = "value",
    group: str | Sequence[str] | None = None,
    seed: int = 0,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged event-log directory through the reservoir
    maintainer (file order = ingest order, the streaming/dedup.py
    convention). Returns the started StreamingQuery; read the live
    sample with ``PrioritySamplePipeline(base_dir, ...).sample``."""
    pipe = PrioritySamplePipeline(
        base_dir,
        k,
        key,
        weight,
        group,
        seed,
        compact_every=compact_every,
        updates_schema=events_schema,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
