"""Continuously-maintained top-k heavy hitters per group — a mergeable
Misra-Gries summary store through the shared delta+base lifecycle.

The 100 TB problem this solves: "top tokens (URLs, error codes,
vocabulary) per group, maintained forever" has unbounded exact state —
the full per-group frequency table. The classic mergeable answer
(Misra-Gries 1982; mergeability Agarwal et al., PODS 2012) keeps at
most ``m`` counters per group with a ONE-SIDED error contract:

- every stored count is an UNDERCOUNT by at most the group's
  accumulated trim offset ``err``:  ``c <= true <= c + err``;
- ``err <= N_group / (m + 1)`` for ANY fold tree over the epochs
  (the mergeable-summaries theorem), so every token whose true count
  exceeds ``N/(m+1)`` is guaranteed PRESENT in the summary — heavy
  hitters cannot be lost, only padded with false candidates (the
  Count-Min tier's one-sided philosophy, inverted: undercount instead
  of overcount).

Store shape (store.py lifecycle): ``<dir>/mg/epoch=N`` rows
``(group..., token, c, err)`` — token rows carry the epoch's trimmed
exact counts with ``err = 0``; one ``token IS NULL`` sentinel row per
group carries the epoch's trim offset. Fold = token-wise SUM + one
MG trim (subtract the (m+1)-th largest, drop non-positive, add the
offset into the sentinel).

Exactness regime, stated precisely: while every group's distinct
token count stays <= ``m`` at every fold, NO trim ever fires, ``err``
stays 0, and the store is EXACT — bitwise equal to a DuckDB groupBy
over the concatenated batches (pinned in tests). Past ``m`` the
contract degrades gracefully to the bracketed bounds above; the
reported ``n_lo``/``n_hi`` columns make the uncertainty explicit
rather than hiding it.

Compaction is CONTRACT-invisible, not bit-invisible (the HLL store's
"estimate-level" precedent, one notch weaker): a compaction performs
one more MG trim, so n_lo can drop and n_hi widen WITHIN the
guarantee — bounds still bracket every true count and no
above-threshold hitter disappears (pinned in tests). Bit-invisibility
is impossible for any bounded-state summary of an unbounded stream;
the sibling exact stores (cohort points, value counts) pay for it
with state proportional to distinct keys.

Scale: per-epoch write work is batch-local (one map-side-combined
exact count + one batch-proportional ranking window; the store is
never read in the write path — the zero-store-side-work class); reads
fold one base + recent deltas, at most ``m + 1`` rows per group per
part after compaction, FOREVER, at any stream length.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..store import MergeableStore, declared_types, run_foreach_batch
from .staging import read_staged


def mg_trim(
    counts: DataFrame, group_cols: Sequence[str], m: int
) -> DataFrame:
    """One Misra-Gries trim over exact (group..., token, c) counts plus
    optional prior (token NULL, err) sentinel rows: subtract each
    group's (m+1)-th largest count from every counter, drop the
    non-positive, fold the offset into the group's sentinel. Groups
    with <= m tokens are passed through untouched (offset 0). Pure
    DataFrame -> DataFrame, so it serves as both the write-path trim
    and the compaction fold."""
    groups = list(group_cols)
    toks = counts.filter(F.col("token").isNotNull())
    prior_err = (
        counts.filter(F.col("token").isNull())
        .groupBy(*groups)
        .agg(F.sum("err").alias("prior_err"))
    )
    summed = toks.groupBy(*groups, "token").agg(
        F.sum("c").alias("c")
    )
    w = Window.partitionBy(*groups)
    w_rank = w.orderBy(F.desc("c"), F.asc("token"))
    ranked = summed.withColumn("rk", F.row_number().over(w_rank))
    offed = ranked.withColumn(
        "off",
        F.coalesce(
            F.max(F.when(F.col("rk") == m + 1, F.col("c"))).over(w),
            F.lit(0),
        ),
    )
    kept = offed.filter(F.col("c") > F.col("off")).select(
        *groups,
        "token",
        (F.col("c") - F.col("off")).alias("c"),
        F.lit(0).cast("long").alias("err"),
    )
    # one sentinel per group seen in EITHER input (a group whose tokens
    # all trimmed away must keep its error mass)
    offs = offed.groupBy(*groups).agg(F.max("off").alias("off"))
    sentinels = (
        offs.join(prior_err, groups, "full_outer")
        .select(
            *groups,
            F.lit(None).cast("string").alias("token"),
            F.lit(0).cast("long").alias("c"),
            (
                F.coalesce(F.col("off"), F.lit(0))
                + F.coalesce(F.col("prior_err"), F.lit(0))
            ).alias("err"),
        )
    )
    return kept.unionByName(sentinels)


class TopKPipeline(MergeableStore):
    """foreachBatch-shaped heavy-hitters maintainer; see module
    docstring. ``write_batch`` per epoch, then :meth:`topk` for the
    live (group..., token, n_lo, n_hi) ranking or :meth:`summary`
    for the full folded summary."""

    def __init__(
        self,
        base_dir: str,
        group_cols: Sequence[str] = ("event_type",),
        token_col: str = "user_id",
        m: int = 64,
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
    ) -> None:
        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        self.group_cols = list(group_cols)
        types = declared_types(
            updates_schema, {c: "STRING" for c in self.group_cols}, "topk"
        )
        fields = ", ".join(f"{c} {types[c]}" for c in self.group_cols)
        super().__init__(
            f"{base_dir}/mg",
            f"{fields}, token STRING, c BIGINT, err BIGINT",
            compact_every,
        )
        self.base_dir = base_dir
        self.token_col = token_col
        self.m = m
        self.mg_dir = self.path

    # -- the store's algebra ----------------------------------------------
    def _batch_summary(self, batch_df: DataFrame) -> DataFrame:
        counts = (
            batch_df.filter(F.col(self.token_col).isNotNull())
            .select(
                *self.group_cols,
                F.col(self.token_col).cast("string").alias("token"),
            )
            .groupBy(*self.group_cols, "token")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("err", F.lit(0).cast("long"))
        )
        return mg_trim(counts, self.group_cols, self.m)

    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return self._batch_summary(batch_df)

    def fold(self, df: DataFrame) -> DataFrame:
        """One more MG merge — bounds every compacted part at m + 1
        rows per group; CONTRACT-invisible, not bit-invisible (see
        module docstring)."""
        return mg_trim(df, self.group_cols, self.m)

    # -- reads ------------------------------------------------------------
    def summary(self, spark: SparkSession) -> DataFrame:
        """(group..., token, n_lo, n_hi): every surviving counter with
        its bracket — ``n_lo <= true count <= n_hi``. The read fold
        sums counters WITHOUT a trim (trimming is for bounding state,
        not for serving — an extra trim would only loosen n_lo)."""
        raw = self.raw(spark)
        groups = self.group_cols
        counts = (
            raw.filter(F.col("token").isNotNull())
            .groupBy(*groups, "token")
            .agg(F.sum("c").alias("n_lo"))
        )
        errs = raw.groupBy(*groups).agg(F.sum("err").alias("err"))
        return counts.join(errs, groups, "left").select(
            *groups,
            "token",
            "n_lo",
            (F.col("n_lo") + F.coalesce(F.col("err"), F.lit(0))).alias(
                "n_hi"
            ),
        )

    def topk(self, spark: SparkSession, k: int = 10) -> DataFrame:
        """The top ``k`` tokens per group by guaranteed count (n_lo
        DESC, token ASC tiebreak), brackets attached."""
        w = Window.partitionBy(*self.group_cols).orderBy(
            F.desc("n_lo"), F.asc("token")
        )
        return (
            self.summary(spark)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .drop("rk")
        )

    def errors(self, spark: SparkSession) -> DataFrame:
        """(group..., err): each group's accumulated trim mass — the
        one-sided uncertainty, and the presence threshold (every token
        with true count > err is guaranteed in :meth:`summary`)."""
        return self.raw(spark).groupBy(*self.group_cols).agg(
            F.sum("err").alias("err")
        )


def streaming_topk(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    group_cols: Sequence[str] = ("event_type",),
    token_col: str = "user_id",
    m: int = 64,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged event-log directory through the heavy-hitters
    maintainer (file order = ingest order, the streaming/dedup.py
    convention). Returns the started StreamingQuery; read the live
    ranking with ``TopKPipeline(base_dir, ...).topk``."""
    pipe = TopKPipeline(
        base_dir,
        group_cols,
        token_col,
        m,
        compact_every=compact_every,
        updates_schema=events_schema,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
