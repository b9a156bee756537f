"""Incremental near-duplicate dedup: MinHash-LSH against a persisted
signature store (continuous corpus curation).

The batch operators (``dedup.minhash_lsh_pairs`` +
``clusters.resolve_duplicates``) answer "dedup this corpus"; a training
pipeline that ingests continuously needs the online form: *is this new
document a near-dup of anything already admitted?* — without re-scanning
the corpus per batch. ``bloom.incremental_dedup`` solves this for exact
keys; this module is its near-dup sibling.

Reference anchor: the reference pipeline has no near-dup surface at all
(its dedup is Cassandra's PK upsert — init.cql:25); this is part of the
LLM-training-data extension surface, built on the same banded-MinHash
machinery as ``functions/dedup.py``.

Design (100 TB):

- The store is two thin tables, both keyed by 8-byte hashes:
  ``bands (band INT, bucket BIGINT, doc_id BIGINT)`` — the LSH index —
  and ``shingles (doc_id BIGINT, sh ARRAY<STRING>)`` — the verification
  payload. Persist both partitioned by ``band`` (bands) / bucketed by
  ``doc_id`` (shingles); each batch appends its delta.
- Candidate generation joins the store against a **broadcast of the
  batch's band rows** — a micro-batch is tiny next to the corpus, so
  the store-side scan is shuffle-free (map-side join; with the store
  partitioned by band the scan also prunes to the batch's bands).
- Verification moves shingle payloads **only for candidate doc_ids**
  (a broadcast semi-join of candidate ids against the shingle store),
  then exact Jaccard — the same verify stage as the batch operator, so
  a store hit is never taken on LSH's word alone.
- The store records **every processed document, duplicates included**.
  That is what makes suppression transitive across batches: if B was
  dropped as a near-dup of A, a later C that collides only with B is
  still caught (C -> B -> A). Store growth is corpus growth — the same
  asymptotics as any dedup index.

Semantics — *online keep-first*: a document survives iff its duplicate
cluster (connected components over verified pairs among {store matches}
∪ {this batch}) contains no earlier document. Equal to the global batch
dedup of the concatenated corpus whenever no new document *bridges* two
already-admitted survivors (an online dedup cannot retract an earlier
admission; the batch form merges such clusters retroactively). Both
properties are pinned in tests/test_incremental.py.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .clusters import connected_components_routed
from .dedup import (
    LSH_BANDS,
    LSH_MAX_BUCKET,
    N_HASHES,
    banded_rows,
    candidate_pairs_from_bands,
    shingled_docs,
    verify_jaccard_pairs,
)

#: store schemas (DDL form, for empty-store bootstrap and docs)
BAND_STORE_SCHEMA = "band INT, bucket BIGINT, doc_id BIGINT"
SHINGLE_STORE_SCHEMA = "doc_id BIGINT, sh ARRAY<STRING>"
#: per-(band, bucket) population + hub summary of the band store —
#: control-plane-sized metadata (one row per populated bucket) that
#: lets the store probe cap hot buckets WITHOUT shuffling the store
#: (the hot-bucket list broadcasts). Maintained incrementally by
#: streaming/dedup.py: each epoch appends its delta's aggregate; stats
#: fold by SUM(population) / MIN(min_doc).
BUCKET_STATS_SCHEMA = "band INT, bucket BIGINT, population BIGINT, min_doc BIGINT"


def bucket_stats_delta(band_delta: DataFrame) -> DataFrame:
    """Aggregate a band-store delta into its bucket-stats delta rows
    (schema :data:`BUCKET_STATS_SCHEMA`). Folding deltas = the same
    aggregation over their union — associative by construction."""
    return band_delta.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("population"),
        F.min("doc_id").alias("min_doc"),
    )


class NearDedupBatch(NamedTuple):
    """Result of one incremental near-dedup step.

    ``survivors``     — batch rows admitted to the corpus (batch schema).
    ``band_delta``    — (band, bucket, doc_id) rows to append to the
                        band store: ALL batch docs, duplicates included
                        (transitive suppression needs them).
    ``shingle_delta`` — (doc_id, sh) rows to append to the shingle
                        store: ALL batch docs.
    """

    survivors: DataFrame
    band_delta: DataFrame
    shingle_delta: DataFrame


def empty_stores(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Bootstrap (band_store, shingle_store) for a fresh corpus."""
    return (
        spark.createDataFrame([], BAND_STORE_SCHEMA),
        spark.createDataFrame([], SHINGLE_STORE_SCHEMA),
    )


def store_candidates(
    band_store: DataFrame,
    batch_bands: DataFrame,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    store_bucket_stats: DataFrame | None = None,
) -> DataFrame:
    """(doc_a=store id, doc_b=batch id) LSH collisions between the store
    and a batch. The batch band rows are broadcast — the store side is a
    map-side probe with no shuffle (and, with the store partitioned by
    ``band``, a pruned scan). Exposed separately so the no-store-shuffle
    property is plan-assertable in isolation (the intra-batch self-join
    has its own, size-based strategy).

    Hot-bucket capping, both directions (the store probe's sibling of
    :func:`~.dedup.candidate_pairs_from_bands`' star routing):

    - **batch side** — a batch bucket holding more than
      ``max_bucket_size`` docs probes the store through its minimum
      doc_id only (the other members reach the store transitively via
      the intra-batch star pairs of the same bucket). Computed with a
      window over the (small, already-materialized) batch band frame.
    - **store side** — requires ``store_bucket_stats``
      (:data:`BUCKET_STATS_SCHEMA`, maintained by the store lifecycle):
      store buckets with ``population > max_bucket_size`` answer probes
      with their ``min_doc`` representative only, applied as a
      broadcast filter so the store side STILL never shuffles. Without
      stats the store side is uncapped (documented trade of the
      in-memory replay harness).
    """
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "bucket")
        batch_bands = (
            batch_bands.select(
                "doc_id",
                "band",
                "bucket",
                F.count(F.lit(1)).over(w).alias("_pop"),
                F.min("doc_id").over(w).alias("_hub"),
            )
            .filter(
                (F.col("_pop") <= max_bucket_size)
                | (F.col("doc_id") == F.col("_hub"))
            )
            .select("doc_id", "band", "bucket")
        )
        if store_bucket_stats is not None:
            hot = store_bucket_stats.filter(
                F.col("population") > max_bucket_size
            ).select("band", "bucket", F.col("min_doc").alias("_hub"))
            band_store = (
                band_store.join(F.broadcast(hot), ["band", "bucket"], "left")
                .filter(
                    F.col("_hub").isNull() | (F.col("doc_id") == F.col("_hub"))
                )
                .drop("_hub")
            )
    return (
        band_store.join(
            F.broadcast(batch_bands.withColumnRenamed("doc_id", "doc_b")),
            ["band", "bucket"],
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def near_dedup_batch(
    batch: DataFrame,
    band_store: DataFrame,
    shingle_store: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    sh_batch: DataFrame | None = None,
    batch_bands: DataFrame | None = None,
    store_bucket_stats: DataFrame | None = None,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> NearDedupBatch:
    """One online near-dedup step: admit the batch docs that are not
    near-dups of the store or of an earlier doc in the same batch.

    Requires ``doc_id`` monotone: every batch doc_id must exceed every
    stored doc_id (an ingest sequence number — the reference's event_id
    discipline). The survivor rule is then simply *cluster minimum*:
    connected components over verified pairs make any store-linked
    cluster's minimum a store doc, so a batch doc survives iff
    ``cluster_id == doc_id``.

    The monotonicity contract is deliberately NOT guarded in-plan:
    ``store_candidates``' ``doc_a < doc_b`` filter must silently pass
    over store ids >= batch ids for at-least-once replay to be
    idempotent (a replayed epoch's store already contains the batch's
    own delta, so self and higher-id collisions are *expected* there —
    see streaming/dedup.py). A strict guard would reject exactly those
    legitimate rows; the cost of the trade is that a genuinely
    out-of-order batch (ids below the store's) is deduped only against
    intra-batch and lower-id store docs. Keep ingest staging id-ordered
    (``streaming_near_dedup`` documents the file-mtime requirement).

    The batch frame is referenced by several subtrees (band rows, both
    verification sides, the final anti-join); callers replaying many
    batches should pass a cached/materialized batch.
    """
    # two materializations per step, each reused by several consumers:
    # the shingle sets feed three verification sides, and the band rows
    # feed store probing, intra-batch candidates, and the store delta.
    # Without the checkpoints each subtree re-shingles and re-runs the
    # 64-hash signature aggregation — the step's dominant cost
    # (measured: 52 s -> 13.5 s -> ~9 s on the replay benchmarks).
    # Callers replaying a KNOWN corpus split (incremental_near_dedup)
    # pass both frames precomputed from one whole-corpus scan instead —
    # filters over a single pair of checkpoints replace 2 jobs/step.
    if sh_batch is None:
        sh_batch = shingled_docs(batch).localCheckpoint(eager=True)
    if batch_bands is None:
        batch_bands = banded_rows(sh_batch, n_hashes, bands).localCheckpoint(
            eager=True
        )

    # store ⋈ broadcast(batch bands): shuffle-free on the store side;
    # hot buckets capped on both directions (store side only when the
    # caller maintains bucket stats — the streaming pipeline does).
    cross_candidates = store_candidates(
        band_store, batch_bands, max_bucket_size, store_bucket_stats
    )
    # shingle payloads move only for candidate store ids (semi-join
    # keyed by the small candidate frame, broadcast).
    store_hit_ids = cross_candidates.select(
        F.col("doc_a").alias("doc_id")
    ).dropDuplicates()
    store_payloads = shingle_store.join(F.broadcast(store_hit_ids), "doc_id")
    cross_pairs = verify_jaccard_pairs(
        cross_candidates, store_payloads, sh_batch, threshold
    )

    intra_candidates = candidate_pairs_from_bands(batch_bands, max_bucket_size)
    intra_pairs = verify_jaccard_pairs(intra_candidates, sh_batch, sh_batch, threshold)

    pairs = cross_pairs.unionByName(intra_pairs).select("doc_a", "doc_b")
    cc = connected_components_routed(pairs)
    # no broadcast hint: in the driver tier `dropped` is a local frame
    # (trivially broadcast anyway); in the distributed tier it is
    # cluster-graph-sized and hinting it broadcast would force an
    # unbounded driver collect — let size-based planning decide.
    dropped = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    survivors = batch.join(dropped, "doc_id", "left_anti")
    return NearDedupBatch(
        survivors=survivors,
        band_delta=batch_bands,
        shingle_delta=sh_batch.select("doc_id", "sh"),
    )


def incremental_near_dedup(
    documents: DataFrame,
    threshold: float = 0.8,
    n_batches: int = 3,
    max_driver_pairs: int | None = None,
) -> DataFrame:
    """Driver-facing form: replay ``documents`` as ``n_batches``
    contiguous doc_id ranges through the online dedup and return the
    admitted ``(doc_id, batch)`` rows.

    The id-range split is the ingest-order model (doc_id is an arrival
    sequence number, per the monotonicity contract of
    :func:`near_dedup_batch`); the cut points derive from one bounded
    1-row aggregate (``max(doc_id)``) — the same bounded-collect class
    as the IVF centroid fetch, not a data scan per invocation. Replay
    is inherently sequential-stateful (each step's store feeds the
    next), so unlike the pure batch operators this query materializes
    per step — that is the operator's semantics, not an accident.
    """
    # The id-range aggregate and the pair probe below are independent
    # jobs; the fast path is a serial chain of driver actions (max_id →
    # probe collect → final anti-join), so the max_id job is submitted
    # from a helper thread and overlaps the probe (guide §2.6 — the
    # scheduler happily runs both; actions were only sequential because
    # the driver called them sequentially). Saves one full job
    # round-trip of wall clock on the bench's most stall-sensitive
    # query; at scale the max aggregate is footer-stat work while the
    # probe owns the cluster.
    from concurrent.futures import ThreadPoolExecutor

    # Single-pass fast path. With id-range batches and doc_a < doc_b,
    # an edge's visibility batch max(batch_a, batch_b) is simply
    # batch(doc_b) — so the per-step pair sets of the store replay are
    # exactly the GLOBAL verified pair set partitioned by batch(doc_b),
    # and the whole replay collapses to one distributed LSH+verify pass
    # (the minhash_lsh_pairs plan) plus an in-driver union-find that
    # adds edges in batch order and decides each batch's docs at its
    # own round — the oracle's semantics, executed literally.
    # The pair graph is control-plane-sized on any deduplicatable
    # corpus; past the bound we fall back to the store replay
    # (near_dedup_replay), which is the general unbounded path. Both
    # paths are pinned equal in tests/test_incremental.py (the
    # fallback forced via max_driver_pairs=0).
    from .clusters import MAX_DRIVER_PAIRS
    from .dedup import (
        candidate_pairs_from_bands,
        pinned_shingle_sets,
        verify_jaccard_pairs,
    )

    bound = MAX_DRIVER_PAIRS if max_driver_pairs is None else max_driver_pairs
    # The probe's pair plan is candidate+verify over the shingle sets
    # (identical signatures, band geometry, and verification as
    # minhash_lsh_pairs — same construction, shared code). Since r12
    # the fast path runs it WITHOUT an eager checkpoint: the branches
    # hang off pinned_shingle_sets' one canonical exchange, so runtime
    # exchange reuse collapses the three shingle subtrees to one
    # execution inside the probe job (the minhash_lsh_pairs
    # property) and the checkpoint bought no recompute saving — it only
    # added a materialize-and-read-back job plus a release round trip,
    # and the fast path's serial job count (max_id, checkpoint, probe
    # collect, final anti-join) made this the bench's most
    # stall-sensitive query. The fallback — whose per-step consumers DO
    # reuse the frames across many jobs — checkpoints on entry instead,
    # re-running the shingle aggregation once; those blocks stay
    # ContextCleaner-owned because the returned survivors frame reads
    # them lazily.
    sh_all = pinned_shingle_sets(documents)
    pairs = verify_jaccard_pairs(
        candidate_pairs_from_bands(banded_rows(sh_all)),
        sh_all,
        sh_all,
        threshold,
    ).select("doc_a", "doc_b")
    # inheritable_thread_target(session): the background action inherits
    # the caller's JVM-thread-local properties (job group/description,
    # pool) AND session tags, so job-group cancellation reaches it and no
    # paired JVM thread leaks under pinned-thread mode (ADVICE r12; the
    # bare-callable form warns and skips tag inheritance).
    # Without pinned threads (PYSPARK_PIN_THREAD=false) the call is a
    # no-op that returns its argument — the session, not a wrapper —
    # and the bare callable is the right target.
    from pyspark.util import inheritable_thread_target

    wrap = inheritable_thread_target(documents.sparkSession)
    if not callable(wrap):
        wrap = lambda fn: fn  # noqa: E731
    with ThreadPoolExecutor(max_workers=1) as pool:
        max_id_fut = pool.submit(
            wrap(lambda: documents.agg(F.max("doc_id")).first()[0])
        )
        head = pairs.limit(bound + 1).collect()
        max_id = max_id_fut.result()
    if max_id is None:  # empty corpus — match the oracle's empty result
        return documents.sparkSession.createDataFrame(
            [], "doc_id BIGINT, batch INT"
        )
    n = max_id + 1
    batch_col = F.expr(f"CAST((doc_id * {n_batches}) DIV {n} AS INT)")
    if len(head) > bound:
        sh_ck = sh_all.localCheckpoint(eager=True)
        bands_all = banded_rows(sh_ck).localCheckpoint(eager=True)
        batches = [documents.filter(batch_col == k) for k in range(n_batches)]
        precomputed = [
            (sh_ck.filter(batch_col == k), bands_all.filter(batch_col == k))
            for k in range(n_batches)
        ]
        out = near_dedup_replay(
            batches, threshold=threshold, precomputed=precomputed
        )
        return out.select(
            "doc_id",
            F.expr(
                f"CAST((doc_id * {n_batches}) DIV {n} AS INT)"
            ).alias("batch"),
        )

    def batch_of(d: int) -> int:
        return (d * n_batches) // n

    # union-find with component-minimum tracking
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    comp_min: dict[int, int] = {}
    by_round: dict[int, list[tuple[int, int]]] = {}
    for r in head:
        by_round.setdefault(batch_of(r[1]), []).append((r[0], r[1]))
    dropped: list[int] = []
    seen: set[int] = set()
    for k in range(n_batches):
        for a, b in by_round.get(k, ()):
            for v in (a, b):
                if v not in parent:
                    parent[v] = v
                    comp_min[v] = v
                    seen.add(v)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
                comp_min[rb] = min(comp_min[ra], comp_min[rb])
        # decide THIS batch's docs now: a doc whose edges all arrive in
        # later rounds is a singleton at its own round and survives
        for v in seen:
            if batch_of(v) == k and comp_min[find(v)] < v:
                dropped.append(v)
        seen = {v for v in seen if batch_of(v) > k}
    spark = documents.sparkSession
    from ..litframe import literal_frame

    dropped_df = literal_frame(
        spark, [(int(d),) for d in dropped], "doc_id BIGINT"
    )
    return (
        documents.join(F.broadcast(dropped_df), "doc_id", "left_anti")
        .select("doc_id", batch_col.alias("batch"))
    )


def incremental_near_dedup_oracle(
    threshold: float = 0.8,
    n_batches: int = 3,
    n: int | None = None,
) -> str:
    """DuckDB twin of :func:`incremental_near_dedup` — expresses the
    *online keep-first* semantics structurally, so the equality is not
    bridge-sensitive: doc X (batch kx) is dropped iff X reaches a
    smaller doc_id through verified pairs using only edges visible by
    batch kx (an edge's visibility = max of its endpoints' batches).
    Per-batch reachability is one recursive CTE carrying the start
    doc's batch as the edge-visibility bound.

    Equality with the Spark replay needs only the already-pinned LSH
    candidate recall 1.0 on the fixture corpora (the same pair set as
    ``minhash_lsh_pairs`` at the same threshold —
    tests/test_oracle_parity.py); given recall, the two sides compute
    identical graphs and the survivor rule is provably the same
    (monotone id ranges make every earlier-batch doc smaller than every
    later-batch doc, so "reaches a store doc" already implies
    "reaches a smaller id" — see module docstring derivation).
    """
    from .dedup import SHINGLE_N, exhaustive_pairs_select_sql, shingled_docs_cte_sql

    shingle_n = n if n is not None else SHINGLE_N
    # shingling + exhaustive verified pairs come from the SAME SQL
    # fragments as minhash_lsh_pairs_oracle — one definition, two gates
    return f"""
        WITH RECURSIVE {shingled_docs_cte_sql(shingle_n)},
        nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
        batched AS (
            SELECT d.doc_id,
                   CAST((d.doc_id * {n_batches}) // nn.n AS INT) AS batch
            FROM docs d, nn
        ),
        pairs AS (
            SELECT doc_a AS pa, doc_b AS pb
            FROM ({exhaustive_pairs_select_sql(threshold)})
        ),
        edges AS (
            SELECT pa AS src, pb AS dst,
                   greatest(ba.batch, bb.batch) AS eb
            FROM pairs
            JOIN batched ba ON ba.doc_id = pa
            JOIN batched bb ON bb.doc_id = pb
            UNION ALL
            SELECT pb, pa, greatest(ba.batch, bb.batch)
            FROM pairs
            JOIN batched ba ON ba.doc_id = pa
            JOIN batched bb ON bb.doc_id = pb
        ),
        reach(start, startb, cur) AS (
            SELECT e.src, b.batch, e.dst
            FROM edges e JOIN batched b ON b.doc_id = e.src
            WHERE e.eb <= b.batch
            UNION
            SELECT r.start, r.startb, e.dst
            FROM reach r JOIN edges e ON e.src = r.cur
            WHERE e.eb <= r.startb
        )
        SELECT d.doc_id, d.batch
        FROM batched d
        WHERE NOT EXISTS (
            SELECT 1 FROM reach r
            WHERE r.start = d.doc_id AND r.cur < d.doc_id
        )
    """


def near_dedup_replay(
    batches: list[DataFrame],
    threshold: float = 0.8,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    precomputed: list[tuple[DataFrame, DataFrame]] | None = None,
) -> DataFrame:
    """Replay a batch sequence through the online dedup, accumulating
    the store in memory — the test/driver harness form (production
    appends the deltas to parquet stores instead; see module docstring).
    Returns the union of every batch's survivors.

    ``precomputed`` (optional, same length as ``batches``) supplies
    per-batch (shingle-set, band-row) frames derived from one
    whole-corpus scan — the single-scan fast path a caller can take
    when the full split is known up front (incremental_near_dedup
    does); omitted, each step materializes its own."""
    if not batches:
        raise ValueError("need at least one batch")
    if precomputed is not None and len(precomputed) != len(batches):
        raise ValueError("precomputed must match batches one-to-one")
    spark = batches[0].sparkSession
    band_store, shingle_store = empty_stores(spark)
    out: DataFrame | None = None
    for i, batch in enumerate(batches):
        sh_k, bands_k = precomputed[i] if precomputed is not None else (None, None)
        step = near_dedup_batch(
            batch,
            band_store,
            shingle_store,
            threshold,
            n_hashes,
            bands,
            sh_batch=sh_k,
            batch_bands=bands_k,
        )
        # The deltas come back already checkpointed (near_dedup_batch
        # materializes them for its own subtree reuse), so the store is
        # a union of checkpointed frames — no extra job per step. The
        # union tree still deepens linearly, so truncate it every few
        # steps to keep long replays' plan size bounded; survivors need
        # no checkpoint at all (shallow lineage over checkpointed/local
        # inputs, consumed once by the final union).
        band_store = band_store.unionByName(step.band_delta)
        shingle_store = shingle_store.unionByName(step.shingle_delta)
        if (i + 1) % 8 == 0:
            # no deterministic release here (blocks.py): every prior
            # store generation is still read lazily by the accumulated
            # `out` survivors until the CALLER materializes the result,
            # so these blocks are ContextCleaner-owned by construction
            band_store = band_store.localCheckpoint(eager=True)
            shingle_store = shingle_store.localCheckpoint(eager=True)
        out = (
            step.survivors
            if out is None
            else out.unionByName(step.survivors)
        )
    return out
