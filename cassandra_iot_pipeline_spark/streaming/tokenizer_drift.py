"""Continuous tokenizer-drift monitoring — the streaming form of
``functions/bpe.py::tokenizer_report``: each micro-batch of documents
is scored against a FROZEN tokenizer (the merges learned at training
time) and lands its per-group fertility / OOV report as an epoch
delta, making tokenizer fit a queryable time series.

Why a corpus owner wants this: a tokenizer is trained once and then
serves an ever-growing ingest. New sources drift — different
vocabulary raises fertility (more pieces per word = more compute per
document), new scripts raise the OOV-word rate (characters outside
the training alphabet degrade to unk ids). Both belong on the same
ops dashboard as the quality audit (streaming/audit.py — this module
is its tokenizer sibling, same store discipline).

Per-epoch semantics, deliberately: each row describes ONE batch —
drift wants the series, not a history-diluted cumulative (the audit
module's argument verbatim).

Store shape (store.py lifecycle):

- ``<dir>/reports/epoch=N/``      the epoch's per-group report rows
- ``<dir>/reports/base_upto=K/``  at most one compacted base
  (fold = distinct — rows are keyed facts (epoch, group))

Idempotence: the report is a deterministic aggregate of the batch, so
a replayed epoch rewrites identical rows. Scale: the write path is
the batch operator's own plan (distinct-word confinement — Python
touches the batch's vocab, never token occurrences) plus a
groups-sized write.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bpe import tokenizer_report
from ..store import MergeableStore, run_foreach_batch
from .staging import read_staged


class TokenizerDriftPipeline(MergeableStore):
    """foreachBatch-shaped tokenizer monitor; see module docstring.
    ``write_batch`` per epoch, then :meth:`history` for the series or
    :meth:`drift` for epochs whose fertility / OOV worsened beyond a
    threshold relative to the first epoch's baseline."""

    def __init__(
        self,
        base_dir: str,
        merges: list[tuple[str, str]],
        vocab: DataFrame,
        group_cols: Sequence[str] = ("source",),
        text_col: str = "text",
        compact_every: int | None = None,
    ) -> None:
        self.group_cols = list(group_cols)
        gcols = ", ".join(f"{g} STRING" for g in self.group_cols)
        super().__init__(
            f"{base_dir}/reports",
            f"epoch BIGINT, {gcols}, n_words BIGINT, n_pieces BIGINT,"
            " fertility DOUBLE, oov_word_rate DOUBLE",
            compact_every,
        )
        self.base_dir = base_dir
        self.merges = list(merges)
        # the vocab is part of the frozen tokenizer: materialize it
        # driver-side once (it is |alphabet| + n_merges rows) so every
        # epoch broadcasts identical content
        self._vocab_rows = vocab.select("token", "id").collect()
        self._vocab_schema = "token STRING, id BIGINT"
        self.text_col = text_col
        self.reports_dir = self.path

    def _vocab(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self._vocab_rows, self._vocab_schema)

    # -- reads ----------------------------------------------------------
    def history(self, spark: SparkSession) -> DataFrame:
        """(epoch, group..., n_words, n_pieces, fertility,
        oov_word_rate): the per-epoch series (empty-safe)."""
        return self.read(spark)

    def drift(
        self,
        spark: SparkSession,
        fertility_slack: float = 0.1,
        oov_slack: float = 0.01,
    ) -> DataFrame:
        """Epoch/group rows whose fertility exceeds the group's FIRST
        epoch by more than ``fertility_slack`` (relative) or whose OOV
        rate exceeds it by more than ``oov_slack`` (absolute) — the
        alert view. Baseline = earliest epoch per group (min_by)."""
        from pyspark.sql import Window

        h = self.history(spark)
        w = Window.partitionBy(*self.group_cols)
        base_f = F.min_by("fertility", "epoch").over(w)
        base_o = F.min_by("oov_word_rate", "epoch").over(w)
        return (
            h.withColumn("baseline_fertility", base_f)
            .withColumn("baseline_oov", base_o)
            .filter(
                (
                    F.col("fertility")
                    > F.col("baseline_fertility") * (1 + fertility_slack)
                )
                | (F.col("oov_word_rate") > F.col("baseline_oov") + oov_slack)
            )
        )

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return tokenizer_report(
            batch_df,
            self.merges,
            self._vocab(batch_df.sparkSession),
            self.group_cols,
            self.text_col,
        ).select(F.lit(int(epoch_id)).alias("epoch"), "*")

    def fold(self, df: DataFrame) -> DataFrame:
        return df.distinct()


def streaming_tokenizer_drift(
    spark: SparkSession,
    staged_docs_dir: str,
    docs_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    merges: list[tuple[str, str]],
    vocab: DataFrame,
    group_cols: Sequence[str] = ("source",),
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged document directory through the drift monitor
    (file order = ingest order, the streaming/dedup.py convention).
    Returns the started StreamingQuery; read the series with
    ``TokenizerDriftPipeline(...).history(spark)``."""
    pipe = TokenizerDriftPipeline(
        base_dir,
        merges,
        vocab,
        group_cols,
        text_col,
        compact_every=compact_every,
    )
    stream = read_staged(
        spark, docs_schema, staged_docs_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
