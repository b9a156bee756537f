"""Persisted ANN index: the IVFADC pipeline (functions/similarity.py)
restated as a build-once / query-many / ingest-continuously artifact —
the similarity-search sibling of the near-dup signature store
(functions/incremental.py + streaming/dedup.py).

The inline operators (`ivf_pq_topk` etc.) re-derive codebook, coarse
centroids, and codes from the corpus on every call — right for a
one-shot query, wrong for a serving index over a growing corpus. This
module persists the three artifacts with the engine's shared delta+base
store layout (store.py):

- ``<dir>/meta/``       one row (m, ks, dims, n_centroids) — the
                        geometry every later call must agree on, read
                        back instead of trusted to callers
- ``<dir>/codebook/``   (code_id, s, cw) PQ codebook — IMMUTABLE after
                        build: codes are only comparable against the
                        codebook that produced them, so incremental
                        batches encode against the persisted one
- ``<dir>/centroids/``  (vec_id, embedding) coarse-quantizer rows —
                        immutable for the same reason
- ``<dir>/codes/``      (vec_id, lst, codes) epoch deltas + compacted
                        ``base_upto=K`` partitioned by ``lst``

Why partition the compacted base by list id: the ADC scan joins codes
against the (broadcast) probed query tables ON ``lst`` — with the base
laid out as ``lst=N`` directories, Spark's dynamic partition pruning
turns the probe into a scan of only the probed lists' files
(asserted in tests), i.e. the on-disk analogue of FAISS's inverted
lists. At 100 TB the index scan reads n_probe/n_centroids of the
corpus codes — 8-byte codes, partition-pruned.

Reference anchor: the reference pipeline has no ANN surface (this is
LLM-extension territory); the persistence discipline mirrors its
Cassandra posture — immutable artifacts + append deltas + compaction
(iot-cassandra-pipeline/cassandra/init.cql compaction strategies).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..store import MergeableStore
from .similarity import (
    _centroid_ranked,
    _coarse_centroids,
    _exact_rerank_pairs,
    _pq_adc,
    _pq_codebook,
    pq_encode,
    query_adc_tables,
)

#: stored codes schema (DDL, for empty-store bootstrap)
CODES_SCHEMA = "vec_id BIGINT, lst BIGINT, codes ARRAY<INT>"
META_SCHEMA = (
    "m INT, ks INT, dims INT, n_centroids INT, store_vectors BOOLEAN, "
    "vector_mode STRING"
)
#: full-vector side table (vector_mode='full'): the exact-verification
#: payload for ingest-time near-dup detection, stored as double (the
#: quantizer's working type) — 8*dims+8 bytes/vector
VECTORS_SCHEMA = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
#: int8 side table (vector_mode='int8'): per-vector max-abs-scaled
#: 8-bit quantization — dims+8 bytes/vector (~7x smaller than 'full';
#: cosine is scale-invariant per side, so no scale column is needed
#: for verification)
VECTORS_INT8_SCHEMA = "vec_id BIGINT, q8 ARRAY<TINYINT>"


def _int8(col):
    """Per-vector max-abs-scaled 8-bit quantization:
    ``round(x / max(|x|) * 127)`` per element (zero vectors map to
    zeros). The scale is not stored — cosine verification normalizes
    each side, so per-vector scales cancel."""
    x = col.cast("array<double>")
    scale = F.greatest(
        F.array_max(F.transform(x, lambda v: F.abs(v))), F.lit(1e-30)
    )
    return F.transform(
        x, lambda v: F.round(v / scale * F.lit(127.0)).cast("tinyint")
    )


class AnnDedupBatch(NamedTuple):
    """Result of one ingest-time embedding-dedup step.

    ``survivors`` — batch rows with no verified near-dup in the store
                    or earlier in the batch (batch schema).
    ``pairs``     — the verified (vec_a, vec_b) near-dup pairs that
                    drove the decision (audit surface).
    """

    survivors: DataFrame
    pairs: DataFrame


class AnnIndexStore(MergeableStore):
    """Build / incrementally extend / query a persisted IVFADC index.
    Its own store directory is the codes (base partitioned by ``lst``);
    the optional vector side table is a second store. As a
    foreachBatch sink it lands stream epoch e as store epoch e + 1
    (store epoch 0 is the bootstrap :meth:`build`), a fixed mapping,
    so replayed stream epochs stay idempotent."""

    def __init__(self, base_dir: str) -> None:
        super().__init__(f"{base_dir}/codes", CODES_SCHEMA, partition_by="lst")
        self.base_dir = base_dir
        self.meta_dir = f"{base_dir}/meta"
        self.codebook_dir = f"{base_dir}/codebook"
        self.centroids_dir = f"{base_dir}/centroids"
        self.codes_dir = self.path
        self.vectors_dir = f"{base_dir}/vectors"

    def _vector_store(self, mode: str) -> MergeableStore:
        """The verification side table's store for ``vector_mode``."""
        return MergeableStore(
            self.vectors_dir,
            VECTORS_INT8_SCHEMA if mode == "int8" else VECTORS_SCHEMA,
        )

    # -- artifacts ------------------------------------------------------
    def meta(self, spark: SparkSession) -> dict[str, int]:
        row = spark.read.parquet(self.meta_dir).first()
        return {
            k: row[k]
            for k in (
                "m", "ks", "dims", "n_centroids", "store_vectors",
                "vector_mode",
            )
        }

    def codebook(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.codebook_dir)

    def centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.centroids_dir)

    def codes(self, spark: SparkSession) -> DataFrame:
        return self.raw(spark)

    def vectors(self, spark: SparkSession) -> DataFrame:
        """The stored verification side table in its at-rest form —
        (vec_id, embedding) for ``vector_mode='full'``, (vec_id, q8)
        for ``'int8'``."""
        return self._vector_store(self.meta(spark)["vector_mode"]).raw(spark)

    # -- build / ingest --------------------------------------------------
    def build(
        self,
        embeddings: DataFrame,
        n_centroids: int = 16,
        m: int = 8,
        ks: int = 16,
        dims: int = 64,
        refine_iters: int = 0,
        store_vectors: bool | str = False,
        coarse_refine_iters: int = 0,
    ) -> None:
        """One-time index build: derive the coarse centroids (the same
        deterministic sha256-minimizer sample as ``ivf_topk``;
        ``coarse_refine_iters`` Lloyd-refines them on whole vectors —
        see ``_coarse_centroids`` for why list balance needs it at
        real centroid counts) and the PQ codebook (optionally
        Lloyd-refined via ``refine_iters``) from ``embeddings``,
        persist both plus the corpus codes as epoch 0.

        Refuses a directory that already carries codes beyond epoch 0:
        rebuilding the codebook in place would silently invalidate
        every previously-stored code (codes are only comparable against
        the codebook that produced them) — swap directories for a
        rebuild instead.

        ``store_vectors``: ``False`` keeps no verification side table;
        ``True`` (= ``'full'``) stores full-precision doubles
        (8*dims+8 bytes/vector — a second copy of the corpus at
        100 TB); ``'int8'`` stores per-vector max-abs-scaled 8-bit
        vectors (dims+8 bytes/vector, ~7x smaller) whose cosine is
        within ~1e-3 of exact for near-dup verification — scale
        factors cancel in cosine, so no scale column is kept. The
        precision/recall trade vs ``'full'`` is pinned in
        tests/test_ann_store.py; SCALE.md records bytes/vector."""
        from ..store import list_children

        mode = {False: "none", True: "full", "full": "full", "int8": "int8"}.get(
            store_vectors
        )
        if mode is None:
            raise ValueError(
                f"store_vectors must be False, True/'full', or 'int8'; "
                f"got {store_vectors!r}"
            )
        spark = embeddings.sparkSession
        stale = [
            n
            for n in list_children(spark, self.codes_dir)
            if n != "epoch=0"
        ]
        if stale:
            raise ValueError(
                f"AnnIndexStore.build: {self.codes_dir} already holds "
                f"{sorted(stale)} — rebuilding the codebook in place would "
                "invalidate previously stored codes. Build into a fresh "
                "directory and swap, or keep extending this index with "
                "add_batch."
            )
        spark.createDataFrame(
            [(m, ks, dims, n_centroids, mode != "none", mode)], META_SCHEMA
        ).write.mode("overwrite").parquet(self.meta_dir)
        cents = _coarse_centroids(embeddings, n_centroids, coarse_refine_iters)
        cents.write.mode("overwrite").parquet(self.centroids_dir)
        from ..blocks import release_local_checkpoint

        release_local_checkpoint(cents)  # no-op for the unrefined sample
        cb = _pq_codebook(embeddings, m, ks, dims, refine_iters)
        cb.write.mode("overwrite").parquet(self.codebook_dir)
        self.add_batch(embeddings, epoch_id=0)

    def add_batch(self, embeddings: DataFrame, epoch_id: int) -> None:
        """Encode a batch against the PERSISTED codebook/centroids and
        land it as ``codes/epoch=N`` (overwrite — idempotent under
        at-least-once replay, same contract as the dedup store). Codes
        from any batching of the same vectors are bit-identical because
        the artifacts they are computed against never change after
        build (pinned in tests)."""
        spark = embeddings.sparkSession
        meta = self.meta(spark)
        cb = self.codebook(spark)
        ranked = _centroid_ranked(embeddings, self.centroids(spark))
        lists = ranked.filter(F.col("crank") == 1).select(
            "vec_id", F.col("cent_vid").alias("lst")
        )
        codes = pq_encode(
            embeddings, meta["m"], meta["ks"], meta["dims"], codebook=cb
        )
        self.write(
            codes.join(lists, "vec_id").select("vec_id", "lst", "codes"),
            epoch_id,
        )
        vectors = self._vector_store(meta["vector_mode"])
        if meta["vector_mode"] == "full":
            vectors.write(
                embeddings.select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                ),
                epoch_id,
            )
        elif meta["vector_mode"] == "int8":
            vectors.write(
                embeddings.select(
                    "vec_id", _int8(F.col("embedding")).alias("q8")
                ),
                epoch_id,
            )

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # stream epoch e -> store epoch e + 1 (epoch 0 is the build);
        # meta() fails loudly on an index that was never built, rather
        # than deriving a codebook from an arbitrary first micro-batch
        self.meta(batch_df.sparkSession)
        self.add_batch(batch_df, epoch_id=epoch_id + 1)

    def compact_tail(
        self, spark: SparkSession, keep_recent: int = 0
    ) -> int | None:
        """Tail compaction (store.compact_epochs): code and vector
        deltas are plain-union folds — associative, probes unchanged;
        the ``lst``-partitioned base stays byte-untouched (tail folds
        land flat, exactly like the epochs they replace)."""
        mode = self.meta(spark)["vector_mode"]
        if mode != "none":
            self._vector_store(mode).compact_tail(spark, keep_recent)
        return super().compact_tail(spark, keep_recent)

    def compact(self, spark: SparkSession) -> int | None:
        """Fold code deltas into a ``base_upto=K`` partitioned by
        ``lst`` — the layout that gives probes dynamic partition
        pruning (only the probed lists' directories are read). The
        vector side table (when kept) folds plain."""
        mode = self.meta(spark)["vector_mode"]
        if mode != "none":
            self._vector_store(mode).compact(spark)
        return super().compact(spark)

    # -- query ------------------------------------------------------------
    def _adc_shortlist(
        self,
        queries: DataFrame,
        n_probe: int,
        limit: int,
        cand_bound: DataFrame | None = None,
        impl: str = "catalyst",
    ) -> DataFrame:
        """(query_id, cand_id, adc, r): per-query top-``limit`` stored
        candidates by ADC over the probed lists — the shared candidate
        stage of :meth:`topk` and :meth:`near_dup_batch`.

        ``cand_bound`` (optional): a ONE-ROW (bound BIGINT) frame;
        stored candidates with ``cand_id >= bound`` are dropped BEFORE
        the per-query cap. Under the monotone-id ingest contract those
        rows can only be a replayed batch's own earlier copies, and
        filtering them pre-cap keeps them from displacing genuine
        candidates out of the shortlist (exact replay idempotence for
        :meth:`near_dup_batch`). In-plan broadcast — no driver value.

        ``impl``: ``"catalyst"`` (default — pure expressions, the
        serving-topk path) or ``"arrow"`` (numpy-vectorized ADC scan
        with per-partition partial top-k; bit-identical output, built
        for LARGE query batches — see :meth:`_adc_shortlist_arrow`)."""
        spark = queries.sparkSession
        meta = self.meta(spark)
        cb = self.codebook(spark)
        ranked = _centroid_ranked(
            queries.select(F.col("query_id").alias("vec_id"), "embedding"),
            self.centroids(spark),
        )
        query_lists = ranked.filter(F.col("crank") <= n_probe).select(
            F.col("vec_id").alias("query_id"), F.col("cent_vid").alias("lst")
        )
        tables = query_adc_tables(queries, cb, meta["m"], meta["dims"])
        if impl == "arrow":
            return self._adc_shortlist_arrow(
                spark, tables, query_lists, limit, cand_bound
            )
        if impl != "catalyst":
            raise ValueError(f"impl must be 'catalyst' or 'arrow': {impl!r}")
        # Dedup at the CODE level, not the scored-pair level: every
        # vector lives in exactly one list, so a (query, cand) pair is
        # scored at most once and pair-level dropDuplicates would
        # shuffle the full SCORED frame — |codes| x (avg probes per
        # list), ~500x the code rows for a 2k-vector batch (measured:
        # the dominant cost of a streaming embedding-dedup epoch).
        # Duplicate CODE rows exist only when an epoch re-landed the
        # same vec_ids (the documented bootstrap re-stream case) and
        # are full-row identical, so a hash shuffle of the compact
        # code rows restores uniqueness — and only the PROBED lists'
        # rows pay it (broadcast semi-join first, which also keeps the
        # partition-pruned scan of the compacted base). Compaction
        # eventually folds the duplicates away at the store level.
        #
        # The m x ks table payload ships ONCE per query: codes first
        # broadcast-join the (query_id, lst) id pairs (16 bytes/row) on
        # lst, then attach each query's table by query_id — broadcast
        # memory is B tables + B*n_probe id pairs instead of the
        # earlier tables-joined-to-lists frame that replicated every
        # table n_probe-fold (~4-8x, the binding constraint on raising
        # dedup batch sizes).
        probed = query_lists.select("lst").dropDuplicates(["lst"])
        scored = (
            self.codes(spark)
            .join(F.broadcast(probed), "lst", "left_semi")
            .dropDuplicates(["vec_id"])
            .withColumnRenamed("vec_id", "cand_id")
            .join(F.broadcast(query_lists), "lst")
            .join(F.broadcast(tables), "query_id")
            .select(
                "query_id",
                "cand_id",
                _pq_adc(F.col("t"), F.col("codes")).alias("adc"),
            )
        )
        if cand_bound is not None:
            scored = (
                scored.join(F.broadcast(cand_bound))
                .filter(F.col("cand_id") < F.col("bound"))
                .drop("bound")
            )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc").desc(), F.col("cand_id").asc()
        )
        return scored.withColumn("r", F.row_number().over(w)).filter(
            F.col("r") <= limit
        )

    def _adc_shortlist_arrow(
        self,
        spark: SparkSession,
        tables: DataFrame,
        query_lists: DataFrame,
        limit: int,
        cand_bound: DataFrame | None,
    ) -> DataFrame:
        """Vectorized ADC scan for LARGE query batches (the ingest-
        dedup shape: every batch vector is a query, so the scored
        frame is |codes| x (batch x n_probe / n_centroids) rows —
        measured to dominate a streaming embedding-dedup epoch when
        evaluated as per-row Catalyst lambdas, ~50M interpreted
        ``aggregate``/``zip_with`` calls plus a 50M-row ranking
        shuffle for a 2k-vector batch against a 100k index).

        Shape: the per-query ADC tables (batch-sized: B x m x ks
        longs — the same payload the catalyst path broadcasts) are
        collected and broadcast as numpy arrays; the code scan runs
        through ``mapInPandas``, scoring each partition's codes
        against its probed lists' query tables with integer numpy
        gathers and reducing to an EXACT per-partition top-``limit``
        per query (stable sort on (-adc, cand_id) — same tiebreak as
        the window). The final global window then ranks partitions x
        limit rows per query instead of the full scored frame. All
        arithmetic is int64 — output is bit-identical to the catalyst
        path (pinned in tests/test_ann_store.py).

        The driver collect ships each query's m x ks table ONCE
        (``tables``, B rows) next to the tiny (query_id, lst) probe
        pairs (``query_lists``, B x n_probe rows); the per-list
        grouping holds INDICES into the one table array, so driver +
        broadcast memory is B tables instead of the n_probe-fold
        replication a pre-joined tables-x-lists frame would carry
        (~4-8x at the default n_probe — SCALE.md records the bytes)."""
        import numpy as np
        import pandas as pd

        # batch-sized driver collect, same payload the catalyst path
        # ships as a broadcast join side (B x m x ks x 8 bytes, each
        # table once) plus B x n_probe 16-byte id pairs
        t_pdf = tables.toPandas()
        ql_pdf = query_lists.toPandas()
        qid_arr = t_pdf["query_id"].to_numpy(np.int64)
        if len(t_pdf):
            t_all = np.array(
                [
                    [np.asarray(row, dtype=np.int64) for row in t]
                    for t in t_pdf["t"]
                ],
                dtype=np.int64,
            )  # [B, m, ks]
        else:
            t_all = np.zeros((0, 0, 0), dtype=np.int64)
        pos = {int(q): i for i, q in enumerate(qid_arr)}
        by_lst: dict[int, object] = {
            int(lst): np.array(
                [pos[int(q)] for q in grp["query_id"]], dtype=np.int64
            )
            for lst, grp in ql_pdf.groupby("lst")
        }
        bc = spark.sparkContext.broadcast((qid_arr, t_all, by_lst))
        bound = None
        if cand_bound is not None:  # 1-row bounded read (documented class)
            row = cand_bound.first()
            bound = None if row is None else row["bound"]

        def score(batches):
            parts = []
            for pdf in batches:
                for lst, grp in pdf.groupby("lst"):
                    all_qids, all_t, idx_by_lst = bc.value
                    idx = idx_by_lst.get(int(lst))
                    if idx is None:
                        continue
                    qids = all_qids[idx]
                    # transient per-list gather of just this list's
                    # tables — the broadcast itself holds each table once
                    T = all_t[idx]
                    grp = grp.sort_values("vec_id")  # cand_id asc for ties
                    cand = grp["vec_id"].to_numpy(np.int64)
                    if bound is not None:
                        keep = cand < bound
                        grp, cand = grp[keep], cand[keep]
                    if cand.size == 0:
                        continue
                    C = np.array(
                        [np.asarray(c, dtype=np.int64) for c in grp["codes"]]
                    )  # [n, m]
                    scores = np.zeros((qids.size, cand.size), dtype=np.int64)
                    for s in range(T.shape[1]):
                        scores += T[:, s, :][:, C[:, s]]
                    k = min(limit, cand.size)
                    # stable argsort of -adc over ascending cand_id ==
                    # the window's (adc DESC, cand_id ASC) exactly
                    order = np.argsort(-scores, axis=1, kind="stable")[:, :k]
                    parts.append(
                        pd.DataFrame(
                            {
                                "query_id": np.repeat(qids, k),
                                "cand_id": cand[order].ravel(),
                                "adc": np.take_along_axis(
                                    scores, order, axis=1
                                ).ravel(),
                            }
                        )
                    )
            if parts:
                allp = pd.concat(parts, ignore_index=True)
                # exact per-partition top-limit per query (stable)
                allp = allp.sort_values(
                    ["adc", "cand_id"],
                    ascending=[False, True],
                    kind="mergesort",
                )
                yield allp.groupby("query_id", sort=False).head(limit)

        probed = query_lists.select("lst").dropDuplicates(["lst"])
        codes = (
            self.codes(spark)
            .join(F.broadcast(probed), "lst", "left_semi")
            .dropDuplicates(["vec_id"])
        )
        pre = codes.mapInPandas(
            score, "query_id BIGINT, cand_id BIGINT, adc BIGINT"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc").desc(), F.col("cand_id").asc()
        )
        return pre.withColumn("r", F.row_number().over(w)).filter(
            F.col("r") <= limit
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        rerank: int | None = None,
        corpus: DataFrame | None = None,
        impl: str = "catalyst",
    ) -> DataFrame:
        """IVFADC top-k against the persisted index. ``queries`` is a
        standalone (query_id, embedding) frame — query vectors need not
        be index members.

        With ``corpus`` (vec_id, embedding) the top-``rerank`` ADC
        shortlist is exact-cosine re-ranked against it, matching the
        inline ``ivf_pq_topk`` output schema (query_id, cand_id,
        cosine, rank). The rerank's QUERY side is built from
        ``queries`` itself (it already carries the embeddings), so a
        query_id absent from ``corpus`` still gets its rows — only
        candidate vectors must be present in ``corpus``. Without
        ``corpus`` the index answers from codes alone — (query_id,
        cand_id, adc, rank) — the pure-index form for when the
        original vectors live elsewhere.

        ``impl="arrow"`` routes the ADC scan through the vectorized
        tier (bit-identical; see :meth:`_adc_shortlist`) — pick it
        when the QUERY side is batch-sized (thousands of rows), where
        the scored frame outgrows per-row expression evaluation.
        """
        if rerank is None:
            rerank = 4 * k
        shortlist = self._adc_shortlist(queries, n_probe, rerank, impl=impl)
        if corpus is None:
            return (
                shortlist.filter(F.col("r") <= k)
                .select("query_id", "cand_id", "adc", F.col("r").alias("rank"))
            )
        return _exact_rerank_pairs(
            shortlist.select("query_id", "cand_id"),
            corpus,
            k,
            query_embeddings=queries,
        )

    # -- ingest-time near-dup detection -----------------------------------
    def near_dup_batch(
        self,
        batch: DataFrame,
        threshold: float = 0.9,
        n_probe: int = 4,
        shortlist: int = 32,
    ) -> "AnnDedupBatch":
        """SemDeDup-shaped ingest dedup: which batch vectors are
        near-duplicates (cosine >= threshold) of the stored corpus or
        of an earlier batch vector? Returns survivors plus the verified
        pairs; land the FULL batch afterwards with :meth:`add_batch`
        (duplicates included — transitive suppression across batches
        needs their codes/vectors, same as the text dedup store).

        Requires a stored verification side table
        (``store_vectors=True``/``'full'`` or ``'int8'`` at build
        time): candidates come from the ADC scan (approximate — the
        documented ANN recall trade; ``embedding_near_dups`` is the
        exact batch tier), but every pair is verified by cosine
        against the STORED vector before anything is dropped — exact
        quantized cosine in 'full' mode, 8-bit-reconstructed cosine
        (within ~1e-3 of exact; per-side scales cancel) in 'int8'
        mode, where near-dup thresholds like 0.9 sit far from the
        quantization error. Keep-first semantics by vec_id under the
        same monotone-id contract as ``near_dedup_batch``
        (functions/incremental.py); intra-batch pairs come from the
        exact tier over the (small) batch.
        """
        from .clusters import connected_components_routed
        from .similarity import _dot, _quantized, embedding_near_dups

        spark = batch.sparkSession
        mode = self.meta(spark)["vector_mode"]
        if mode == "none":
            raise ValueError(
                "near_dup_batch requires an index built with a stored "
                "vector form — store_vectors='int8' (the 100 TB default "
                "posture: dims+8 bytes/vector, near-dup decisions "
                "identical to full precision) or store_vectors=True/'full' "
                "— codes alone only bound the cosine. Rebuild the index "
                "with store_vectors='int8', or use "
                "EmbeddingDedupPipeline.bootstrap which defaults to it."
            )
        queries = batch.select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # Stored candidates at or above the batch's min vec_id can only
        # be the batch's own replayed copies (monotone-id contract) —
        # filtered BEFORE the shortlist cap so a replay cannot displace
        # genuine near-dup candidates out of the capped shortlist
        # (exact idempotence; pinned in tests/test_streaming_ann.py).
        bound = batch.agg(F.min("vec_id").alias("bound"))
        # arrow tier: every batch vector is a query, so the scored
        # frame is |codes| x (B x n_probe / n_centroids) — the
        # vectorized scan with per-partition top-k is the batch shape's
        # plan (bit-identical to catalyst; serving topk stays catalyst)
        cand = self._adc_shortlist(
            queries, n_probe, shortlist, cand_bound=bound, impl="arrow"
        ).select("query_id", "cand_id")

        def quant_side(df, id_out, v_out, n_out, id_in="vec_id"):
            q = df.select(
                F.col(id_in).alias(id_out),
                _quantized(F.col("embedding")).alias(v_out),
            )
            return q.withColumn(n_out, _dot(F.col(v_out), F.col(v_out)))

        qs = quant_side(batch, "query_id", "qv", "qn2")
        if mode == "int8":
            # the stored side is already an integer vector; cosine is
            # scale-invariant per side, so int8 ints stand in for the
            # 1e-6-grid quantization directly (cast wide for the dot)
            cs = (
                self.vectors(spark)
                .select(
                    F.col("vec_id").alias("cand_id"),
                    F.col("q8").cast("array<long>").alias("cv"),
                )
                .withColumn("cn2", _dot(F.col("cv"), F.col("cv")))
            )
        else:
            cs = quant_side(self.vectors(spark), "cand_id", "cv", "cn2")
        cos = _dot(F.col("qv"), F.col("cv")).cast("double") / (
            F.sqrt(F.col("qn2").cast("double"))
            * F.sqrt(F.col("cn2").cast("double"))
        )
        cross = (
            cand.join(qs, "query_id")
            .join(cs, "cand_id")
            .select(
                F.col("cand_id").alias("vec_a"),
                F.col("query_id").alias("vec_b"),
                cos.alias("cosine"),
            )
            .filter(
                (F.col("cosine") >= F.lit(threshold))
                & (F.col("vec_a") < F.col("vec_b"))
            )
        )
        intra = embedding_near_dups(batch, threshold).select(
            "vec_a", "vec_b", "cosine"
        )
        pairs = cross.unionByName(intra).select("vec_a", "vec_b")
        cc = connected_components_routed(pairs, src="vec_a", dst="vec_b")
        dropped = cc.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias("vec_id")
        )
        survivors = batch.join(dropped, "vec_id", "left_anti")
        return AnnDedupBatch(survivors=survivors, pairs=pairs)
