"""Continuous substring-level boilerplate removal — the streaming form
of ``functions/substrings.py`` (Lee et al.), completing the curation
lifecycle: document-level near-dup dedup streams through
``streaming/dedup.py``; the boilerplate RUNS that survive it stream
through here.

Semantics (prefix-consistent): a length-``k`` gram is duplicated for
epoch N when its occurrences across epochs <= N reach ``min_count`` —
exactly the batch operator's predicate evaluated over everything seen
so far. Each micro-batch's documents are cut against that running
count and written once; documents already emitted are NOT revisited
when a gram crosses the threshold later (the operator curates an
append-only stream, not a mutable corpus — re-cut historical epochs by
replaying them through the batch operator if the corpus is re-landed).

Store shape: the gram counts live in the engine's shared delta+base
parquet layout (store.py — the near-dup and ANN stores' lifecycle):

- ``<dir>/grams/epoch=N/``   (g BIGINT, cnt BIGINT) — the batch's own
  gram counts, hashed (xxhash64) so the store carries 8 bytes/gram
  (the batch operator's ``hash_shuffle`` tier and its w.h.p. contract).
  With ``counts="approx"`` (r8, the 100 TB store floor) the rows are
  instead (j, bucket, c) Count-Min counters — a FIXED depth x width
  sketch however many distinct grams the corpus ever produces; the
  dup predicate becomes exact-batch-count + CM-estimate-of-history
  >= min_count, and because Count-Min only over-estimates the tier
  can only OVER-mark relative to exact (one-sided, same failure class
  as the hashed-gram tier)
- ``<dir>/grams/base_upto=K/`` at most one compacted base (counts
  sum-merged per gram or per counter — both folds associative, so
  compaction cannot change any future epoch's marking)
- ``<dir>/curated/epoch=N/``  the batch's cut documents
  (doc_id, text, n_spans, chars_removed, n_chars_canon)

Idempotence: epoch dirs are written with overwrite, and the counts
visible to epoch N are read as base + epochs STRICTLY BELOW N — so a
replayed epoch neither double-counts its own grams nor changes its
original marking (pinned in tests). The one caveat shared with every
delta+base store here: a replay arriving AFTER a compaction already
folded that epoch reads its own counts inside the base (marking can
only get MORE aggressive — over-marking removes a little extra text,
the same one-sided failure the hashed tier already accepts).

Scale: per epoch, the wide work is the batch-local
``groupBy(g).count()`` (map-side partial agg — the r7 de-skewed plan),
one sum-merge against the store counts (8-byte rows), and the
AQE-decided semi-join of the duplicated-gram set back onto the batch's
positions; the store is never scanned per-document, only per-distinct-
gram. Compaction keeps the store at one base + recent deltas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import canonical
from ..functions.sketches import _bucket_xx
from ..functions.substrings import (
    DEFAULT_K,
    _grams,
    _merge_spans,
    cut_spans,
)
from ..store import MergeableStore, run_foreach_batch
from .staging import read_staged

GRAM_COUNTS_SCHEMA = "g BIGINT, cnt BIGINT"
#: the approx tier's store rows: Count-Min counters (fast xxhash64
#: family — the store is engine-private state, not a cross-engine
#: monitoring surface, so the portable sha256 layout buys nothing)
GRAM_SKETCH_SCHEMA = "j INT, bucket BIGINT, c BIGINT"
CURATED_SCHEMA = (
    "doc_id BIGINT, text STRING, n_spans BIGINT, chars_removed BIGINT,"
    " n_chars_canon BIGINT"
)

COUNT_MODES = ("exact", "approx")


class SubstringDedupPipeline(MergeableStore):
    """Continuous substring dedup over micro-batches of documents —
    see module docstring. ``write_batch`` is foreachBatch-shaped; wire
    it with :func:`streaming_substring_dedup` or call it directly per
    epoch."""

    def __init__(
        self,
        base_dir: str,
        k: int = DEFAULT_K,
        min_count: int = 2,
        compact_every: int | None = None,
        counts: str = "exact",
        cm_width: int = 1 << 21,
        cm_depth: int = 4,
    ) -> None:
        """``counts="approx"`` is the 100 TB store-floor tier (r7
        verdict #7): instead of one 8-byte row per corpus-lifetime
        distinct gram, the store holds a FIXED ``cm_depth x cm_width``
        Count-Min sketch of the historical gram mass; each epoch's
        duplicated-gram predicate is (exact batch count) + (CM
        estimate of everything before) >= min_count. The contract is
        ONE-SIDED: Count-Min only ever OVER-estimates, so the approx
        tier can over-mark (cut a little extra text — the same
        one-sided failure the hashed-gram tier and the
        replay-after-compaction caveat already accept) but can never
        under-mark relative to the exact tier. Store modes are fixed
        for the store's lifetime. Default geometry is ~8.4M counters
        (~67 MB raw), fixed however many grams the corpus ever
        produces.

        SIZING RULE (measured, SCALE.md `--substring-approx`): the
        estimate's overshoot is ~ total gram mass / cm_width per
        depth row (min over ``cm_depth`` rows), so the tier is sound
        only when ``min_count >> mass / cm_width`` — at a 21M-gram
        probe corpus and width 2^21, min_count=50 over-marked 21 of
        20,000 docs while min_count=2 over-marked 18,000 (the
        collision mass alone crosses a tiny threshold). Use approx
        for heavy-hitter boilerplate thresholds; keep exact for
        min_count near 2."""
        if counts not in COUNT_MODES:
            raise ValueError(
                f"counts must be one of {COUNT_MODES}, got {counts!r}"
            )
        # the pipeline's own directory is its output, the cut documents
        super().__init__(f"{base_dir}/curated", CURATED_SCHEMA, compact_every)
        self.base_dir = base_dir
        self.k = k
        self.min_count = min_count
        self.counts = counts
        self.cm_width = cm_width
        self.cm_depth = cm_depth
        self.grams_dir = f"{base_dir}/grams"
        self.curated_dir = self.path
        # gram counts sum-merge per gram (exact) or per counter (approx)
        # — both folds associative, so compaction cannot change any
        # future epoch's marking
        self.grams = (
            MergeableStore(
                self.grams_dir,
                GRAM_COUNTS_SCHEMA,
                fold=lambda df: df.groupBy("g").agg(F.sum("cnt").alias("cnt")),
            )
            if counts == "exact"
            else MergeableStore(
                self.grams_dir,
                GRAM_SKETCH_SCHEMA,
                fold=lambda df: df.groupBy("j", "bucket").agg(
                    F.sum("c").alias("c")
                ),
            )
        )

    # -- reads ----------------------------------------------------------
    def _counts_before(self, spark: SparkSession, epoch_id: int) -> DataFrame:
        """Gram counts (exact rows or CM counters, per ``counts``)
        visible to ``epoch_id``: the compacted base plus every epoch
        delta STRICTLY below it — a replayed epoch must not see its
        own first-attempt delta (that would double-count every gram
        and could flip min_count decisions between attempts)."""
        return self.grams.raw(spark, before=epoch_id)

    def gram_counts(self, spark: SparkSession) -> DataFrame:
        """The folded corpus-wide counts so far (audit surface;
        exact mode only — the approx store holds no per-gram rows)."""
        if self.counts != "exact":
            raise ValueError(
                "gram_counts: the approx store keeps CM counters, not "
                "per-gram rows — use gram_sketch()"
            )
        return self.grams.read(spark)

    def gram_sketch(self, spark: SparkSession) -> DataFrame:
        """The folded (j, bucket, c) Count-Min counters so far
        (approx-mode audit surface; at most depth x width rows)."""
        if self.counts != "approx":
            raise ValueError("gram_sketch: exact store — use gram_counts()")
        return self.grams.read(spark)

    def curated(self, spark: SparkSession) -> DataFrame:
        """Every epoch's cut documents (empty-safe, delta+base reader
        shared with the other stores)."""
        return self.read(spark)

    # -- write path (foreachBatch) ---------------------------------------
    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..blocks import release_local_checkpoint

        spark = batch_df.sparkSession
        canon = (
            batch_df.select(
                "doc_id", canonical(F.col("text")).alias("canon")
            )
            .localCheckpoint(eager=True)
        )
        grams = _grams(canon, self.k, hash_shuffle=True)
        batch_counts = grams.groupBy("g").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        if self.counts == "exact":
            # running totals = store-so-far + this batch, sum-merged
            # on the 8-byte gram key; the duplicated set is whatever
            # crosses min_count NOW (history-only repeats included).
            # The store side is PRUNED to the batch's own gram set
            # first (semi-join on the 8-byte key): only batch-present
            # grams can mark batch positions, so the merge exchange
            # moves batch-proportional rows, not the whole accumulated
            # store — without this the per-epoch cost grows with
            # corpus-lifetime distinct grams (measured in
            # tools/scale_probe.py --substring-stream).
            stored_relevant = self._counts_before(spark, epoch_id).join(
                batch_counts.select("g"), "g", "semi"
            )
            total = (
                stored_relevant.unionByName(batch_counts)
                .groupBy("g")
                .agg(F.sum("cnt").alias("cnt"))
            )
            dup_g = total.filter(
                F.col("cnt") >= F.lit(self.min_count)
            ).select("g")
            store_delta = batch_counts
        else:
            # approx tier: historical mass lives in a FIXED
            # depth x width Count-Min sketch. Probe it with the
            # batch's distinct grams (batch-proportional x depth
            # rows; the sketch side is fixed-size whatever the corpus
            # history — the store-floor analogue of the exact tier's
            # semi-prune), take the min-over-depth estimate
            # (absent counter = 0), and mark wherever exact-batch +
            # estimate crosses min_count. Over-estimate-only => the
            # approx tier can only OVER-mark vs exact.
            js = F.explode(
                F.sequence(F.lit(0), F.lit(self.cm_depth - 1))
            ).alias("j")
            probes = batch_counts.select("g", "cnt", js).select(
                "g",
                "cnt",
                F.col("j").cast("int").alias("j"),
                _bucket_xx(F.col("g"), F.col("j"), self.cm_width).alias(
                    "bucket"
                ),
            )
            sketch = self._counts_before(spark, epoch_id).groupBy(
                "j", "bucket"
            ).agg(F.sum("c").alias("c"))
            est = (
                probes.join(sketch, ["j", "bucket"], "left")
                .groupBy("g")
                .agg(
                    F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"),
                    F.max("cnt").alias("cnt"),
                )
            )
            dup_g = est.filter(
                F.col("cnt") + F.col("est") >= F.lit(self.min_count)
            ).select("g")
            # this epoch's delta: the batch's own CM counters (built
            # from the per-gram counts — depth rows per DISTINCT gram,
            # weighted by multiplicity, not per occurrence)
            store_delta = probes.groupBy("j", "bucket").agg(
                F.sum("cnt").alias("c")
            )
        dup = grams.join(dup_g, "g", "semi")
        spans = _merge_spans(dup, self.k)
        cut = cut_spans(canon, spans)
        span_agg = spans.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start")).alias(
                "chars_removed"
            ),
        )
        curated = (
            canon.select(
                "doc_id", F.length("canon").alias("n_chars_canon")
            )
            .join(cut, "doc_id")
            .join(span_agg, "doc_id", "left")
            .fillna(0, subset=["n_spans", "chars_removed"])
            .select(
                "doc_id", "text", "n_spans", "chars_removed",
                "n_chars_canon",
            )
        )
        # epoch-dir overwrite => replaying an epoch is a no-op rewrite
        self.write(curated, epoch_id)
        self.grams.write(store_delta, epoch_id)
        release_local_checkpoint(canon)

    # -- maintenance ------------------------------------------------------
    def compact_tail(
        self, spark: SparkSession, keep_recent: int = 0
    ) -> dict[str, int]:
        """Tail compaction (store.compact_epochs): gram counts re-sum,
        curated output plain-union — associative, reads unchanged,
        base byte-untouched."""
        done = {
            "grams": self.grams.compact_tail(spark, keep_recent),
            "curated": super().compact_tail(spark, keep_recent),
        }
        return {k: m for k, m in done.items() if m is not None}

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold the gram counts (sum-merge — associative, so future
        markings are unchanged) and the curated output (plain union)
        into fresh bases; store.py's rename-commit keeps every crash
        window readable."""
        done = {
            "grams": self.grams.compact(spark),
            "curated": super().compact(spark),
        }
        return {k: upto for k, upto in done.items() if upto is not None}


def streaming_substring_dedup(
    spark: SparkSession,
    staged_docs_dir: str,
    base_dir: str,
    checkpoint_dir: str,
    k: int = DEFAULT_K,
    min_count: int = 2,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
    counts: str = "exact",
    cm_width: int = 1 << 21,
    cm_depth: int = 4,
):
    """Wire a staged document directory through the substring pipeline
    (file order = ingest order, the streaming/dedup.py convention).
    Returns the started StreamingQuery; await it, then read the cut
    corpus with ``SubstringDedupPipeline(base_dir).curated(spark)``."""
    from .dedup import DOCUMENTS_STREAM_SCHEMA

    pipe = SubstringDedupPipeline(
        base_dir, k=k, min_count=min_count, compact_every=compact_every,
        counts=counts, cm_width=cm_width, cm_depth=cm_depth,
    )
    stream = read_staged(
        spark, DOCUMENTS_STREAM_SCHEMA, staged_docs_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
