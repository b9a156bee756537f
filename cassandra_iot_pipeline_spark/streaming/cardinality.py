"""Continuously-maintained distinct counts — mergeable HLL sketches
per group through the shared delta+base store lifecycle.

The 100 TB problem this solves: "distinct users per (event_type,
period), maintained forever" has unbounded exact state — the
distinct-user set itself. Spark's streaming ``approx_count_distinct``
keeps its state inside one query's checkpoint, invisible to batch
readers and lost to any other consumer. Storing Datasketches HLL
sketches per group instead makes the state EXPLICIT, bounded (2^lg_k
bytes per group, whatever the cardinality), and mergeable: epochs
union associatively, back-fills are one more delta, and any batch
reader can fold the store without replaying the stream.

Store shape (store.py lifecycle, the cohort/SCD2 discipline):

- ``<dir>/sk/epoch=N/``     one sketch row per group the batch touched
- ``<dir>/sk/base_upto=K/`` at most one compacted base; the fold is
  the reader's own group-and-union, so compaction is reader-invisible
  at the ESTIMATE level by construction (HLL union is associative and
  commutative; estimates are pinned — sketch bytes may legally differ
  by merge order, so nothing downstream ever compares bytes)

Exactness contract: deliberately approximate, and therefore REFUSES a
DuckDB oracle (cross-engine sketches differ — the expectations-module
precedent). The pytest gates are same-engine instead: streamed
estimates == one-pass batch estimates over the concatenated events
(exactly — Datasketches HLL is deterministic and merge-invariant,
probed in tests), replay idempotence, compaction invisibility, and
the standard error bound against exact distinct counts.

Scale: per-epoch write work is batch-local (groupBy + hll_sketch_agg,
map-side combined; the store is never read in the write path — the
zero-store-side-work class, like the cohort point store); reads fold
one base + recent deltas with a per-group union aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..store import (
    MergeableStore,
    declared_types,
    run_foreach_batch,
    store_parts,
)
from .staging import read_staged

DAY_SECONDS = 86_400
LG_K = 12  # 4 KiB per sketch; rsd ~= 1.04 / sqrt(2^12) ~= 1.6 %


def period_index(ts_col: str, period_seconds: int) -> F.Column:
    """Integer-exact floor of event time onto the period grid — the
    cohorts/gapfill pmod-div rule (exact for ALL timestamps, pre-1970
    included)."""
    p = period_seconds * 1_000_000
    return F.expr(
        f"(unix_micros({ts_col}) - pmod(unix_micros({ts_col}), {p})) div {p}"
    )


def grouped_sketches(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lg_k: int = LG_K,
) -> DataFrame:
    """(group..., sk): one HLL sketch per group — the batch building
    block. One scan, one map-side-combined exchange on the group key."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sk")
    )


def sketch_estimates(sketches: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """(group..., n_approx): fold sketches per group and estimate."""
    return (
        sketches.groupBy(*group_cols)
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(*group_cols, F.hll_sketch_estimate("sk").alias("n_approx"))
    )


def distinct_counts(
    events: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lg_k: int = LG_K,
) -> DataFrame:
    """Batch form: approx distinct ``value_col`` per group, one pass."""
    return grouped_sketches(events, group_cols, value_col, lg_k).select(
        *group_cols, F.hll_sketch_estimate("sk").alias("n_approx")
    )


class CardinalityPipeline(MergeableStore):
    """foreachBatch-shaped distinct-count maintainer; see module
    docstring. Groups each batch by ``group_cols`` plus the derived
    period index ``pi`` (when ``period_seconds`` is set), sketches
    ``value_col`` per group, and lands the sketch rows as an epoch
    delta. :meth:`estimates` is the live read."""

    def __init__(
        self,
        base_dir: str,
        group_cols: Sequence[str] = ("event_type",),
        value_col: str = "user_id",
        ts_col: str = "ts",
        period_seconds: int | None = DAY_SECONDS,
        lg_k: int = LG_K,
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
    ) -> None:
        self.group_cols = list(group_cols)
        self.out_cols = self.group_cols + (
            ["pi"] if period_seconds is not None else []
        )
        types = declared_types(
            updates_schema,
            {c: "STRING" for c in self.group_cols if c != "pi"},
            "cardinality",
        ) | {"pi": "BIGINT"}
        fields = ", ".join(f"{c} {types[c]}" for c in self.out_cols)
        super().__init__(
            f"{base_dir}/sk", f"{fields}, sk BINARY", compact_every
        )
        self.base_dir = base_dir
        self.value_col = value_col
        self.ts_col = ts_col
        self.period_seconds = period_seconds
        self.lg_k = lg_k
        self.sk_dir = self.path

    # -- reads ----------------------------------------------------------
    def sketches(self, spark: SparkSession) -> DataFrame:
        """The folded per-group sketch store (empty-safe): one merged
        sketch per group."""
        return self.read(spark)

    def estimates(self, spark: SparkSession) -> DataFrame:
        """(group..., pi?, n_approx): live distinct-count estimates —
        equal to the one-pass batch estimates over the concatenated
        events (pinned in tests)."""
        return self.sketches(spark).select(
            *self.out_cols, F.hll_sketch_estimate("sk").alias("n_approx")
        )

    def rolling_estimates(
        self, spark: SparkSession, window_periods: int
    ) -> DataFrame:
        """(group..., pi, n_approx): approx distinct values over the
        TRAILING ``window_periods`` periods ending at each stored
        period — rolling actives (WAU/MAU) straight from the sketch
        store, no raw-event re-scan. HLL union is exactly the sliding
        set union (merge-invariant), so each window's estimate equals
        the one-shot estimate over the window's raw events (pinned in
        tests). Shape: each period's sketch explodes into the <= w
        windows it contributes to (the rolling_active explode), then
        one union per (group, window) — sketch-rows x w work, never
        event-proportional."""
        if self.period_seconds is None:
            raise ValueError(
                "rolling_estimates needs a period-indexed store "
                "(period_seconds was None)"
            )
        if window_periods < 1:
            raise ValueError(f"window_periods must be >= 1, got {window_periods}")
        per_period = self.sketches(spark)
        groups = [c for c in self.out_cols if c != "pi"]
        contrib = per_period.select(
            *groups,
            F.explode(
                F.sequence(
                    F.col("pi"),
                    F.col("pi") + F.lit(window_periods - 1),
                )
            ).alias("pi"),
            "sk",
        )
        # windows whose END period was never observed are not served
        # (they'd be partial trailing echoes of the last data)
        observed = per_period.select(*groups, "pi").distinct()
        return (
            contrib.join(observed, [*groups, "pi"], "semi")
            .groupBy(*groups, "pi")
            .agg(F.hll_union_agg("sk").alias("sk"))
            .select(
                *groups, "pi", F.hll_sketch_estimate("sk").alias("n_approx")
            )
        )

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """One sketch row per group the batch touched (a stateless
        projection: a replayed epoch rewrites identical content)."""
        df = batch_df
        if self.period_seconds is not None:
            df = df.withColumn(
                "pi", period_index(self.ts_col, self.period_seconds)
            )
        return grouped_sketches(df, self.out_cols, self.value_col, self.lg_k)

    def fold(self, df: DataFrame) -> DataFrame:
        """Group-and-union — HLL union is associative and commutative,
        so compaction is estimate-invisible (pinned in tests)."""
        return df.groupBy(*self.out_cols).agg(
            F.hll_union_agg("sk").alias("sk")
        )

    # -- maintenance ------------------------------------------------------
    def rebuild_from_source(
        self, spark: SparkSession, source: DataFrame, epoch_col: str = "epoch"
    ) -> dict:
        """Rebuild the WHOLE sketch store from a retained source table
        — the executable form of the deletion limit forget.py
        documents: an HLL sketch is an aggregate a single key cannot
        be subtracted from, so after a right-to-be-forgotten pass the
        store must be re-derived from the (already forgotten) source.
        ``source`` carries the original events annotated with the
        epoch each row landed in (``epoch_col``); the rebuild groups
        per (epoch, group) in ONE pass and atomically swaps the new
        epoch set in (any compacted base is dropped — it folded
        pre-deletion epochs). Estimates afterwards equal a
        from-scratch build on the retained corpus (Datasketches HLL is
        deterministic), pinned in tests. Returns
        ``{"epochs": n, "rows": n}``."""
        from ..forget import replace_store_dir

        df = source
        if self.period_seconds is not None:
            df = df.withColumn(
                "pi", period_index(self.ts_col, self.period_seconds)
            )
        grouped = df.groupBy(
            F.col(epoch_col).cast("long").alias(epoch_col), *self.out_cols
        ).agg(F.hll_sketch_agg(self.value_col, F.lit(self.lg_k)).alias("sk"))
        replace_store_dir(spark, self.sk_dir, grouped, epoch_col)
        _, _, epochs = store_parts(spark, self.sk_dir)
        return {"epochs": len(epochs), "rows": self.raw(spark).count()}


def streaming_cardinality(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "user_id",
    ts_col: str = "ts",
    period_seconds: int | None = DAY_SECONDS,
    lg_k: int = LG_K,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged event-log directory through the cardinality
    maintainer (file order = ingest order, the streaming/dedup.py
    convention). Returns the started StreamingQuery; read live
    estimates with ``CardinalityPipeline(base_dir, ...).estimates``."""
    pipe = CardinalityPipeline(
        base_dir,
        group_cols,
        value_col,
        ts_col,
        period_seconds,
        lg_k,
        compact_every=compact_every,
        updates_schema=events_schema,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
