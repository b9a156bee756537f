"""In-stream dedup for at-least-once sources (W-series extension).

Kafka redelivers records on consumer rebalance, producer retry, and
micro-batch replay after failure. The reference absorbs duplicates only
at the storage layer — Cassandra's PK last-write-wins upsert
(reference: iot-cassandra-pipeline/cassandra/init.cql:25 and
docs/baseline-architecture.md re-delivery note) — which means every
duplicate still pays the full decode, shuffle, and sink write before
the PK collapses it.

Spark's ``dropDuplicatesWithinWatermark`` moves that absorption to the
source side: state holds one entry per key only until the watermark
passes (bounded by ``delay``), and duplicates never reach the sink
shuffle. At 100 TB that is the difference between riding out a replay
storm at the storage layer (amplified writes, compaction pressure) and
dropping it at ingest for the cost of a bounded key-set.

The sink's PK upsert stays on as the second layer — in-stream dedup is
a volume optimization, not the correctness anchor, so the two compose
exactly like the reference's Kafka + Cassandra pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: how long a key is remembered = the maximum redelivery lag absorbed.
#: The bounded replays deliver whole day-files, so duplicates of an
#: event can trail by up to a day-file per trigger misalignment between
#: sources; 2 days covers that with margin. Production tuning: set to
#: the broker's max redelivery window (state size = keys per `delay` of
#: event time — for the reference's ~100 events/s, minutes of delay is
#: a few thousand 8-byte-hashed keys per device fleet).
DEDUP_DELAY = "2 days"


def dedup_within_watermark(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    delay: str = DEDUP_DELAY,
    ts_col: str = "ts",
) -> DataFrame:
    """Drop re-delivered records in-stream with watermark-bounded state.

    Unlike a plain streaming ``dropDuplicates`` (whose state grows
    without bound — every key ever seen), state here is evicted as the
    watermark passes, so the operator runs forever on an unbounded
    stream. Duplicates arriving within ``delay`` of the first copy are
    dropped; later ones fall through to the sink's PK upsert (layer 2).
    """
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def double_delivery(
    spark: SparkSession, staged_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """Deterministic at-least-once worst case: every record is
    delivered exactly twice. ONE file source, duplicates synthesized
    in-stream by exploding a two-element array per record — the same
    at-least-once contract the earlier two-source union modeled, at
    half the source I/O (a second streaming source re-lists and
    re-reads every staged file; the synthetic copy is a Generate node
    over rows already in memory). The copies co-arrive within the same
    micro-batch — inside ``DEDUP_DELAY`` by construction; cross-batch
    redelivery (the other arrival shape) is exercised directly in
    tests/test_streaming_dedup.py with explicitly staged duplicates."""
    from .pipeline import read_event_stream

    stream = read_event_stream(spark, staged_dir, max_files_per_trigger)
    return stream.withColumn(
        "_delivery", F.explode(F.array(F.lit(0), F.lit(1)))
    ).drop("_delivery")


# --- streaming near-dup dedup (continuous corpus curation) -----------------

#: documents fixture schema for the file-source stand-in (streaming
#: sources require a declared schema, like the event stream's).
DOCUMENTS_STREAM_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)

from ..store import IngestWatermark, MergeableStore, run_foreach_batch
from .staging import read_staged


def _fold_bucket_stats(df: DataFrame) -> DataFrame:
    """Per-bucket stats fold: populations sum, the minimum doc wins."""
    return df.groupBy("band", "bucket").agg(
        F.sum("population").alias("population"),
        F.min("min_doc").alias("min_doc"),
    )


class NearDedupPipeline(MergeableStore):
    """Continuous near-dup curation: each micro-batch of documents is
    admitted or dropped against the parquet-persisted MinHash-LSH store
    (functions/incremental.py), producing an append-only curated corpus.

    This is the streaming form of ``incremental_near_dedup`` — the same
    ``near_dedup_batch`` step runs inside ``foreachBatch``, with the
    stores living as parquet tables next to the curated output:

    - ``<dir>/bands/``         LSH index: ``epoch=N`` deltas + at most
      one compacted ``base_upto=K`` (band-partitioned — partition
      pruning on ``band`` is available to pruned probes)
    - ``<dir>/shingles/``      verification payloads, same delta+base
      layout
    - ``<dir>/bucket_stats/``  per-(band, bucket) population + hub
      summaries (functions/incremental.py BUCKET_STATS_SCHEMA) — what
      lets the store probe cap hot buckets without shuffling the store
    - ``<dir>/curated/epoch=N/``  admitted documents of batch N
    - ``<dir>/watermark/epoch=N/`` one-row (epoch, max_doc) ingest
      watermark — the monotone-id guard's memory

    **Idempotence** (foreachBatch is at-least-once): every epoch writes
    by *overwriting its own epoch directory*, so a replayed epoch lands
    byte-identical instead of appending twice. A replayed epoch also
    re-probes a store that already contains its own delta — harmless by
    construction: a doc's collision with itself is removed by the
    ``doc_a < doc_b`` filter, and any same-batch pair the first attempt
    caught as an intra pair is caught on replay as a cross pair with
    the same survivor outcome (pinned in tests). A replay landing
    *after* a compaction folded its epoch re-creates the epoch dir, but
    readers ignore epochs at or under the base's ``upto`` — no double
    count — and the next compaction deletes the leftover.

    **Monotone-id guard**: ``near_dedup_batch`` requires every batch
    doc_id to exceed every stored doc_id, and deliberately does not
    guard in-plan (idempotent replay legitimately violates it — see its
    docstring). The *pipeline* layer knows epochs, so it can tell a
    replay from fresh data: a batch whose ``epoch_id`` is NEW (above
    the recorded watermark epoch) but whose min doc_id is at or below
    the previous epochs' max fails loudly here instead of silently
    inverting keep-first survivorship.

    **Store lifecycle**: every micro-batch appends three delta dirs, so
    a long-running stream accumulates files linearly; :meth:`compact`
    folds base + deltas into a fresh ``base_upto=N`` (bands
    band-partitioned, bucket stats re-aggregated to one row per
    bucket), commits it with a rename, then deletes the folded inputs.
    Readers pick the highest complete base + newer epochs, so a crash
    at ANY point leaves a readable, non-duplicated store. Pass
    ``compact_every`` to run it on an epoch cadence inside the stream.

    **Scale**: the per-batch work is the documented near_dedup_batch
    plan — the store scan is shuffle-free (broadcast batch band rows),
    hot buckets are capped on both probe directions via the maintained
    bucket stats, and compaction keeps file counts bounded.
    """

    def __init__(
        self,
        base_dir: str,
        threshold: float = 0.8,
        compact_every: int | None = None,
    ) -> None:
        from ..functions.incremental import (
            BAND_STORE_SCHEMA,
            BUCKET_STATS_SCHEMA,
            SHINGLE_STORE_SCHEMA,
        )

        # the pipeline's own directory is its output, the curated corpus
        super().__init__(
            f"{base_dir}/curated", DOCUMENTS_STREAM_SCHEMA, compact_every
        )
        self.base_dir = base_dir
        self.threshold = threshold
        self.bands_dir = f"{base_dir}/bands"
        self.shingles_dir = f"{base_dir}/shingles"
        self.stats_dir = f"{base_dir}/bucket_stats"
        self.curated_dir = self.path
        self.watermark_dir = f"{base_dir}/watermark"
        self.stores = {
            # band-partitioned base: partition pruning for band-filtered
            # probes
            "bands": MergeableStore(
                self.bands_dir, BAND_STORE_SCHEMA, partition_by="band"
            ),
            "shingles": MergeableStore(
                self.shingles_dir, SHINGLE_STORE_SCHEMA
            ),
            "bucket_stats": MergeableStore(
                self.stats_dir, BUCKET_STATS_SCHEMA, fold=_fold_bucket_stats
            ),
        }
        self._wm = IngestWatermark(
            self.watermark_dir, id_name="doc_id", what="near-dedup ingest"
        )

    # -- store access -------------------------------------------------
    def _read_or_empty(self, spark: SparkSession, path: str, which: str):
        """The raw (unfolded) rows of store ``which`` (``path`` is its
        directory)."""
        return self.stores[which].raw(spark)

    def bucket_stats(self, spark: SparkSession) -> DataFrame:
        """Folded per-bucket stats: deltas (and any compacted base) sum
        by bucket. A post-compaction epoch replay can double-count its
        own population — conservative only (a bucket can read hotter
        than it is, never colder), so capping stays sound."""
        return self.stores["bucket_stats"].read(spark)

    def curated(self, spark: SparkSession) -> DataFrame:
        """The admitted corpus so far (empty-safe). Delta+base reader:
        curated output participates in the same compaction lifecycle as
        the index stores (one dir per micro-batch forever is the
        small-files pathology compaction exists to kill), and the
        reader ignoring epochs at or under the base's upto is what
        keeps a post-compaction replay from resurrecting rows."""
        return self.read(spark)

    def watermark(self, spark: SparkSession) -> tuple[int, int] | None:
        """(latest epoch, its running max doc_id) or None before the
        first batch (shared IngestWatermark side-store — store.py)."""
        return self._wm.read(spark)

    # -- write path (called from foreachBatch) ------------------------
    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..blocks import release_local_checkpoint
        from ..functions.dedup import banded_rows, shingled_docs
        from ..functions.incremental import bucket_stats_delta, near_dedup_batch

        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        bounds = batch.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).first()
        wm = self._wm.guard(spark, epoch_id, bounds["lo"])
        # the shared-subtree checkpoints are built HERE (not left to
        # near_dedup_batch's defaults) so this layer owns their
        # lifecycle: once the epoch's parquet writes land, the blocks
        # are spent and released deterministically below
        sh_batch = shingled_docs(batch).localCheckpoint(eager=True)
        batch_bands = banded_rows(sh_batch).localCheckpoint(eager=True)
        step = near_dedup_batch(
            batch,
            self._read_or_empty(spark, self.bands_dir, "bands"),
            self._read_or_empty(spark, self.shingles_dir, "shingles"),
            self.threshold,
            sh_batch=sh_batch,
            batch_bands=batch_bands,
            store_bucket_stats=self.bucket_stats(spark),
        )
        # epoch-dir overwrite => replaying an epoch is a no-op rewrite
        self.write(step.survivors, epoch_id)
        self.stores["bands"].write(step.band_delta, epoch_id)
        self.stores["shingles"].write(step.shingle_delta, epoch_id)
        self.stores["bucket_stats"].write(
            bucket_stats_delta(step.band_delta), epoch_id
        )
        # watermark last: a crash before this point replays the epoch,
        # which the guard exempts (epoch_id not above the recorded max)
        self._wm.record(spark, epoch_id, bounds["hi"], wm)
        # every epoch artifact is on disk — the batch checkpoints are
        # spent; free their blocks now instead of at GC time
        release_local_checkpoint(batch_bands)
        release_local_checkpoint(sh_batch)
        release_local_checkpoint(batch)

    # -- maintenance ---------------------------------------------------
    def compact_tail(
        self, spark: SparkSession, keep_recent: int = 0
    ) -> dict[str, int]:
        """Tail compaction per store (store.compact_epochs): bands /
        shingles / curated are plain-union folds, bucket stats re-sum
        — all associative, so reads and future probe decisions are
        unchanged; the base (and its band partitioning) stays
        byte-untouched. Use ``keep_recent`` to shield the replayable
        window (the compact_epochs replay caveat)."""
        done = {
            which: store.compact_tail(spark, keep_recent)
            for which, store in self.stores.items()
        }
        done["curated"] = super().compact_tail(spark, keep_recent)
        return {k: m for k, m in done.items() if m is not None}

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold every store's base + epoch deltas into a fresh
        ``base_upto=N``: bands band-partitioned (partition pruning for
        band-filtered probes), bucket stats re-aggregated to one row
        per bucket, shingles coalesced, and the CURATED OUTPUT folded
        plain (append-only rows keyed by doc_id — a union fold; readers
        ignore epochs at or under the base upto, so a post-compaction
        replay cannot resurrect rows). Commit per store is
        write-to-hidden-dir then rename; the folded inputs are deleted
        only after the rename, and readers ignore stale bases / folded
        epochs, so every crash window stays readable with no double
        counts. Watermark history is pruned to its latest epoch.
        Returns {store: new upto} for the stores that had anything to
        fold."""
        done = {
            which: store.compact(spark)
            for which, store in self.stores.items()
        }
        done["curated"] = super().compact(spark)
        # watermark: only the latest epoch matters
        self._wm.prune(spark)
        return {k: upto for k, upto in done.items() if upto is not None}


def streaming_near_dedup(
    spark: SparkSession,
    staged_docs_dir: str,
    base_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged document directory through the near-dup pipeline.
    Returns the started StreamingQuery; await it, then read the curated
    corpus with ``NearDedupPipeline(base_dir).curated(spark)``.

    File order is the ingest order (file source lists by modification
    time), so the doc_id-monotonicity contract of near_dedup_batch means
    staged files must carry ascending id ranges — the natural layout for
    an ingest sequence number; the pipeline's watermark guard fails
    loudly on a violation instead of silently mis-surviving.
    ``compact_every`` folds the delta stores on that epoch cadence."""
    pipe = NearDedupPipeline(base_dir, threshold, compact_every=compact_every)
    stream = read_staged(
        spark, DOCUMENTS_STREAM_SCHEMA, staged_docs_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
