"""Continuous ANN-index ingestion: the streaming form of
``functions/ann_store.py`` — embedding micro-batches land in the
persisted IVFADC index through ``foreachBatch``, the exact counterpart
of ``streaming/dedup.py``'s curation pipeline for the similarity
surface.

The index's build-once contract carries over: codebook and coarse
centroids are derived ONCE (from a bootstrap corpus, before the stream
starts) and never change — a streaming batch only encodes against them
and appends its codes epoch. That is what keeps every code in the
store comparable and what makes replayed epochs byte-identical
(epoch-dir overwrite, same artifacts). If the corpus drifts far from
the bootstrap sample, rebuild the index offline and swap directories —
the same posture as any serving ANN system (FAISS indexes are not
re-trained in place either).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ann_store import AnnIndexStore
from ..store import IngestWatermark, MergeableStore, run_foreach_batch
from .staging import read_staged

#: embeddings fixture schema for the file-source stand-in (embedding is
#: float32 at rest; the quantizer casts to double itself)
EMBEDDINGS_STREAM_SCHEMA = (
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
)


class AnnIngestPipeline(AnnIndexStore):
    """foreachBatch sink landing embedding batches into a PRE-BUILT
    :class:`AnnIndexStore` (raises on an unbuilt index rather than
    silently deriving a codebook from an arbitrary first micro-batch).
    ``compact_every`` folds code deltas into the lst-partitioned base
    on that epoch cadence. Stage only NEW vectors — re-streaming the
    bootstrap corpus would store duplicate code rows (harmless for
    topk, which dedups candidates, but wasted bytes).

    No monotone-id watermark guard here, deliberately: pure index
    ingestion has no keep-first survivorship to invert — topk answers
    are id-order-independent — so out-of-order vec_id ranges are
    merely unusual, not wrong. The guard lives where the contract
    does: :class:`EmbeddingDedupPipeline` (and the text pipeline),
    whose drop decisions ARE id-ordered."""

    def __init__(
        self, index_dir: str, compact_every: int | None = None
    ) -> None:
        super().__init__(index_dir)
        self.compact_every = compact_every


class EmbeddingDedupPipeline(MergeableStore):
    """Continuous embedding-level curation: each micro-batch is deduped
    against the persisted ANN index (``AnnIndexStore.near_dup_batch`` —
    exact-cosine-verified, keep-first) before the FULL batch lands in
    the index, producing an append-only curated output — the embedding
    sibling of ``streaming/dedup.py::NearDedupPipeline``.

    Layout: survivors at ``<curated_dir>/epoch=N`` (overwrite —
    idempotent under at-least-once replay: a replayed batch re-probes a
    store already holding its own vectors; self-collisions are removed
    by the id ordering, and the batch's own replayed copies are
    filtered OUT of the ADC shortlist before its cap so they cannot
    displace genuine candidates — replay survivors are exactly the
    first attempt's), index epochs at stream epoch + 1 (store epoch 0
    is the bootstrap build). Requires an index built with stored
    vectors (``store_vectors=True`` or ``"int8"``).

    **Monotone-id guard** (same contract as the text pipeline,
    streaming/dedup.py): keep-first survivorship is vec_id-ordered, so
    a NEW epoch whose min vec_id is at or below the previously
    ingested max would silently invert survivorship — the shared
    ``IngestWatermark`` side-store at ``<curated_dir>_watermark``
    fails it loudly instead; replayed epochs stay exempt."""

    def __init__(
        self,
        index_dir: str,
        curated_dir: str,
        threshold: float = 0.9,
        compact_every: int | None = None,
    ) -> None:
        super().__init__(curated_dir, EMBEDDINGS_STREAM_SCHEMA, compact_every)
        self.store = AnnIndexStore(index_dir)
        self.curated_dir = curated_dir
        self.threshold = threshold
        # sibling of curated/, not inside it (curated/ is epoch-partitioned)
        stripped = curated_dir.rstrip("/")
        base = stripped.rsplit("/", 1)[0] if "/" in stripped else "."
        self.watermark_dir = f"{base}/{stripped.rsplit('/', 1)[-1]}_watermark"
        self._wm = IngestWatermark(
            self.watermark_dir, id_name="vec_id", what="embedding ingest"
        )

    @classmethod
    def bootstrap(
        cls,
        bootstrap_embeddings: DataFrame,
        index_dir: str,
        curated_dir: str,
        threshold: float = 0.9,
        compact_every: int | None = None,
        store_vectors: bool | str = "int8",
        **build_kwargs,
    ) -> "EmbeddingDedupPipeline":
        """Build the verification-capable index from a bootstrap corpus
        and return the pipeline over it — the dedup-shaped entry point,
        so a caller never has to know the ``AnnIndexStore.build``
        incantation. ``store_vectors`` defaults to ``'int8'`` (the
        100 TB posture: dims+8 bytes/vector instead of a full-precision
        second corpus copy; near-dup decisions identical in tests —
        SCALE.md records the bytes). Pass ``'full'`` to keep exact
        doubles; ``**build_kwargs`` forwards the index geometry
        (n_centroids, m, ks, dims, refine_iters, coarse_refine_iters)."""
        AnnIndexStore(index_dir).build(
            bootstrap_embeddings, store_vectors=store_vectors, **build_kwargs
        )
        return cls(
            index_dir, curated_dir, threshold, compact_every=compact_every
        )

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        bounds = batch.agg(
            F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
        ).first()
        wm = self._wm.guard(spark, epoch_id, bounds["lo"])
        step = self.store.near_dup_batch(batch, self.threshold)
        self.write(step.survivors, epoch_id)
        # land ALL batch vectors, duplicates included — transitive
        # suppression across batches needs their codes and vectors
        self.store.add_batch(batch, epoch_id=epoch_id + 1)
        # watermark last: a crash before this point replays the epoch,
        # which the guard exempts
        self._wm.record(spark, epoch_id, bounds["hi"], wm)
        # survivors + codes (+ vectors) are on disk — the batch
        # checkpoint is spent; free its blocks deterministically
        from ..blocks import release_local_checkpoint

        release_local_checkpoint(batch)

    def compact(self, spark: SparkSession) -> None:
        """Fold the index's code/vector deltas AND the curated output
        into their ``base_upto=N`` bases (shared store.py lifecycle —
        the curated dir would otherwise grow one directory per
        micro-batch forever), then prune the watermark history."""
        self.store.compact(spark)
        super().compact(spark)
        self._wm.prune(spark)

    def curated(self, spark: SparkSession) -> DataFrame:
        """The admitted embeddings so far (empty-safe, delta+base
        reader — epochs at or under the compacted base's upto are
        ignored, so post-compaction replays cannot resurrect rows)."""
        return self.read(spark)


def streaming_embedding_dedup(
    spark: SparkSession,
    staged_embeddings_dir: str,
    index_dir: str,
    curated_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire staged embedding files through the continuous embedding
    dedup. Files must carry ascending vec_id ranges in mtime order
    (the keep-first id contract — violations now fail loudly at the
    ingest watermark); the index must be pre-built with stored
    vectors (``store_vectors=True``/``'full'`` or ``'int8'`` — the
    latter is the 100 TB default posture: dims+8 bytes/vector instead
    of a full-precision second copy of the corpus)."""
    pipe = EmbeddingDedupPipeline(
        index_dir, curated_dir, threshold, compact_every=compact_every
    )
    stream = read_staged(
        spark,
        EMBEDDINGS_STREAM_SCHEMA,
        staged_embeddings_dir,
        max_files_per_trigger,
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)


def streaming_ann_ingest(
    spark: SparkSession,
    staged_embeddings_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged embeddings directory into the persisted ANN index.
    Returns the started StreamingQuery; await it, then query with
    ``AnnIndexStore(index_dir).topk(...)``. The index must already be
    built (see module docstring)."""
    pipe = AnnIngestPipeline(index_dir, compact_every=compact_every)
    stream = read_staged(
        spark,
        EMBEDDINGS_STREAM_SCHEMA,
        staged_embeddings_dir,
        max_files_per_trigger,
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
