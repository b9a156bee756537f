"""Continuously-maintained SCD2 dimension — the streaming form of
``operators/scd2.py``, completing the family the same way the dedup
and ANN stores stream their batch operators: each micro-batch of
dimension updates recomputes ONLY its touched keys' version histories
and persists them as an epoch delta; the live dimension is read as
"each key's newest epoch wins".

Store shape (the shared delta+base lifecycle, store.py):

- ``<dir>/dim/epoch=N/``   the recomputed version rows of every key
  batch N touched, each row stamped with its owner ``epoch`` — a key's
  FULL history is rewritten by the newest epoch that touched it, so
  the reader never has to merge partial histories
- ``<dir>/dim/base_upto=K/`` at most one compacted base (the fold IS
  the reader's winner rule, so compaction provably changes nothing)

Reader (:meth:`Scd2Pipeline.dimension`): base + epoch deltas, keep
each key's rows from its maximum epoch — one per-key window, the same
last-write-wins shape as the engine's PK-upsert serving tables.

Idempotence: the dimension visible to epoch N is read from epochs
STRICTLY below N (a replayed epoch must not merge against its own
first attempt — its history would double); epoch dirs are written
with overwrite. Pinned in tests together with the batch equivalence:
a sequence of write_batch calls produces bit-identically the
dimension of one ``scd2_snapshot`` over the concatenated update log.

Scale: per epoch the work is the batch operator's documented merge
plan — broadcast semi-probe of the touched-key set (the dimension
never shuffles for routing), a per-key window over batch-proportional
rows — plus one LWW window at read time over base + recent deltas
(compaction keeps that union shallow). The write path's semi-prune
runs BELOW its winner-rule window (the winner rule is per-key
independent, so pruning first is bit-identical): the per-epoch window
exchange carries only the touched keys' rows, not the accumulated
dimension (plan pinned; per-epoch flatness against a 10x-growing
dimension measured in tools/scale_probe.py --scd2-stream).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.scd2 import scd2_recompute_touched, scd2_snapshot
from ..store import MergeableStore, declared_types, run_foreach_batch
from .staging import read_staged


class Scd2Pipeline(MergeableStore):
    """foreachBatch-shaped SCD2 maintainer; see module docstring.
    ``key``/``attrs`` fix the dimension's shape for the store's
    lifetime; their TYPES come from ``updates_schema`` (the same DDL
    the stream reader uses — pass it), falling back to the fixture
    shape (BIGINT keys, STRING attrs) when omitted. Not
    tail-foldable: the write path reads strictly-older epoch dirs by
    number."""

    tail_foldable = False

    def __init__(
        self,
        base_dir: str,
        key: str | Sequence[str] = "user_id",
        attrs: Sequence[str] = ("event_type",),
        ts_col: str = "ts",
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
    ) -> None:
        self.keys = [key] if isinstance(key, str) else list(key)
        self.attrs = list(attrs)
        types = declared_types(
            updates_schema,
            {k: "BIGINT" for k in self.keys}
            | {a: "STRING" for a in self.attrs},
            "scd2",
            source="updates",
        )
        fields = ", ".join(f"{c} {types[c]}" for c in types)
        super().__init__(
            f"{base_dir}/dim",
            f"{fields}, valid_from_us BIGINT, valid_to_us BIGINT,"
            " is_current BOOLEAN, epoch BIGINT",
            compact_every,
        )
        self.base_dir = base_dir
        self.ts_col = ts_col
        self.dim_dir = self.path

    # -- reads ----------------------------------------------------------
    def fold(self, df: DataFrame) -> DataFrame:
        """Each key's rows from its maximum owner epoch (the reader's
        LWW rule; also the compaction fold, so folding is a no-op to
        every reader)."""
        w = Window.partitionBy(*self.keys)
        return (
            df.withColumn("_mx", F.max("epoch").over(w))
            .filter(F.col("epoch") == F.col("_mx"))
            .drop("_mx")
        )

    _winner_rows = fold

    def _raw_before(self, spark: SparkSession, epoch_id: int) -> DataFrame:
        return self.raw(spark, before=epoch_id)

    def _dim_before(self, spark: SparkSession, epoch_id: int) -> DataFrame:
        """The dimension a given epoch merges against: winner rows of
        everything STRICTLY older (a replay must not see its own first
        attempt — its key histories would double)."""
        return self._winner_rows(self._raw_before(spark, epoch_id)).drop(
            "epoch"
        )

    def dimension(self, spark: SparkSession) -> DataFrame:
        """The live versioned dimension (empty-safe)."""
        return self._dim_before(spark, 2**62)

    # -- write path -------------------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        # Prune the raw store to the batch's touched keys BEFORE the
        # winner-rule window (r7 verdict #1): the winner rule is
        # per-key independent, so filtering keys first is
        # bit-identical — but the window's key exchange now carries
        # batch-proportional rows instead of re-shuffling the whole
        # accumulated dimension every epoch (the store-side-prune
        # discipline of streaming/substrings.py; plan pinned in
        # tests/test_streaming_scd2.py and PLANS.md, per-epoch
        # flatness measured in tools/scale_probe.py --scd2-stream).
        touched = F.broadcast(batch_df.select(*self.keys).distinct())
        current = self._winner_rows(
            self._raw_before(batch_df.sparkSession, epoch_id).join(
                touched, self.keys, "semi"
            )
        ).drop("epoch")
        return scd2_recompute_touched(
            current, batch_df, self.keys, self.attrs, self.ts_col
        ).withColumn("epoch", F.lit(epoch_id).cast("long"))


def streaming_scd2(
    spark: SparkSession,
    staged_updates_dir: str,
    updates_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    key: str | Sequence[str] = "user_id",
    attrs: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged update-log directory through the SCD2 maintainer
    (file order = ingest order, the streaming/dedup.py convention).
    Returns the started StreamingQuery; read the live dimension with
    ``Scd2Pipeline(base_dir, ...).dimension(spark)`` and enrich facts
    against it with ``operators.scd2.scd2_enrich``."""
    pipe = Scd2Pipeline(
        base_dir, key, attrs, ts_col, compact_every=compact_every,
        updates_schema=updates_schema,
    )
    stream = read_staged(
        spark, updates_schema, staged_updates_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)


def scd2_enrich_stream(
    facts: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    attrs: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Streaming point-in-time enrichment: a stream-static LEFT join
    attaching the dimension version valid AT each fact's event time —
    the temporal sibling of the key-equi enrichment join
    (streaming/joins.py::enriched_stream_query). The batch form's
    union-tag as-of plan needs a global per-key window, which
    streaming can't do; per-key version intervals are disjoint and
    contiguous, so the interval-containment join matches AT MOST one
    version per fact and the left join emits exactly one row per fact
    (NULL attrs before a key's first version — same contract as
    ``operators.scd2.scd2_enrich``, pinned equal in tests).

    The static side re-evaluates per micro-batch: pass
    ``Scd2Pipeline.dimension(spark)`` and each batch reads the
    CURRENT store — a dimension update lands on the stream at the
    next trigger with no restart (tested). Broadcast by hint: the
    dimension is the small side at any realistic fleet size; drop the
    hint for a billion-version dimension and let AQE decide."""
    versions = F.broadcast(
        dim.select(
            F.col(key).alias("__k"),
            "valid_from_us",
            "valid_to_us",
            *[F.col(a) for a in attrs],
        )
    )
    t_us = F.unix_micros(F.col(ts_col))
    cond = (
        (F.col(key) == F.col("__k"))
        & (t_us >= F.col("valid_from_us"))
        & (F.col("valid_to_us").isNull() | (t_us < F.col("valid_to_us")))
    )
    return facts.join(versions, cond, "left").drop(
        "__k", "valid_from_us", "valid_to_us"
    )


def snapshot_equivalence_oracle(
    spark: SparkSession,
    update_log: DataFrame,
    key: str | Sequence[str],
    attrs: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """The frame a correctly-maintained pipeline must equal after
    landing the whole log (test helper): one batch snapshot."""
    return scd2_snapshot(update_log, key, attrs, ts_col)
