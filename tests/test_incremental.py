"""Incremental near-dup dedup (functions/incremental.py).

The contract under test — *online keep-first* MinHash dedup against a
persisted signature store:

1. replaying a corpus in batches admits exactly the docs the global
   batch dedup (minhash_lsh_pairs + resolve_duplicates) keeps, when no
   batch doc bridges two already-admitted survivors;
2. suppression is transitive across batches through *dropped* docs
   (dropped docs' signatures stay in the store);
3. the documented divergence — a late bridge doc cannot retract an
   earlier admission — behaves exactly as documented;
4. the cross-batch candidate join stays broadcast on the batch side
   (the store must never shuffle).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.functions import dedup, incremental
from cassandra_iot_pipeline_spark.functions.clusters import resolve_duplicates
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def _global_survivor_ids(corpus, threshold):
    pairs = dedup.minhash_lsh_pairs(corpus, threshold=threshold)
    kept = resolve_duplicates(corpus, pairs)
    return {r.doc_id for r in kept.select("doc_id").collect()}


def _replay_survivor_ids(batches, threshold):
    out = incremental.near_dedup_replay(batches, threshold=threshold)
    return {r.doc_id for r in out.select("doc_id").collect()}


def test_replay_matches_global_batch_dedup(spark, documents):
    """Three-way batch split of the sf0.001 documents corpus + planted
    near-dup copies: the online replay admits exactly the global batch
    dedup's survivor set. (The corpus has no bridge docs — verified by
    the equality itself: a bridge would split the sets.)"""
    perturbed = documents.limit(6).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = documents.unionByName(perturbed).cache()
    batches = [
        corpus.filter(F.col("doc_id") < 200).cache(),
        corpus.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 200000)).cache(),
        corpus.filter(F.col("doc_id") >= 200000).cache(),  # the copies
    ]
    assert _replay_survivor_ids(batches, 0.7) == _global_survivor_ids(corpus, 0.7)


def test_intra_batch_dups_also_collapse(spark, documents):
    """Copies arriving in the SAME batch as their originals are caught
    by the intra-batch pair stage (the store is empty on batch 1)."""
    perturbed = documents.limit(4).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    batch = documents.unionByName(perturbed).cache()
    got = _replay_survivor_ids([batch], 0.7)
    assert got == _global_survivor_ids(batch, 0.7)
    assert not any(d >= 200000 for d in got)


def test_transitive_suppression_through_dropped_doc(spark):
    """A -> B -> C chain split across batches: B is dropped as a dup of
    A; C collides (near identity) only with B, yet is still dropped —
    because dropped docs' signatures stay in the store. This is the
    property that forces 'store everything, duplicates included'."""
    base = "the quick brown fox jumps over the lazy dog and then naps " * 8
    rows = [
        (1, base),  # A
        (2, base + " tail-b"),  # B ~ A
        (3, base + " tail-b tail-c"),  # C ~ B (and, transitively, A)
    ]
    mk = lambda r: spark.createDataFrame(r, "doc_id LONG, text STRING")  # noqa: E731
    batches = [mk(rows[:1]), mk(rows[1:2]), mk(rows[2:])]
    assert _replay_survivor_ids(batches, 0.7) == {1}


def test_late_bridge_cannot_retract_admission(spark):
    """Documented divergence from global batch dedup: A and D are
    admitted (not near-dups of each other); a later B bridges both.
    Online: B is dropped, A and D both stay. Global batch dedup on the
    same corpus merges the cluster and keeps only A."""
    # Jaccard triangle inequality bounds the construction: with
    # J(A,B), J(B,D) ~0.91 the bridge forces J(A,D) >= 0.82, so the
    # threshold (0.88) must sit between them. Shingle Jaccards of this
    # fixture (5-gram sets): J(A,B)=0.909, J(B,D)=0.916, J(A,D)=0.839 —
    # A-D fails *verification* whatever LSH does, deterministic.
    core = " ".join(f"word{i:02d}core" for i in range(60))
    rows_a = [(1, core + " zebra quokka wombat numbat")]
    rows_d = [(2, core + " fjord glyph vexing jumbo")]
    rows_b = [(3, core)]
    mk = lambda r: spark.createDataFrame(r, "doc_id LONG, text STRING")  # noqa: E731
    online = _replay_survivor_ids([mk(rows_a), mk(rows_d), mk(rows_b)], 0.88)
    assert online == {1, 2}
    corpus = mk(rows_a + rows_d + rows_b)
    global_kept = _global_survivor_ids(corpus, 0.88)
    assert global_kept == {1}  # the batch form retracts D; online cannot


def test_store_side_join_is_broadcast(spark, documents):
    """The store->batch candidate join must broadcast the batch band
    rows: at 100 TB the store never shuffles. Assert the cross-candidate
    subtree (isolated via store_candidates) plans a BroadcastHashJoin
    with no shuffle-based join."""
    band_store, shingle_store = incremental.empty_stores(spark)
    first = incremental.near_dedup_batch(
        documents.filter(F.col("doc_id") < 100), band_store, shingle_store
    )
    band_store = first.band_delta.localCheckpoint(eager=True)
    batch_bands = dedup.banded_rows(
        dedup.shingled_docs(documents.filter(F.col("doc_id") >= 100))
    )
    cand = incremental.store_candidates(band_store, batch_bands)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_survivor_schema_matches_batch(spark, documents):
    band_store, shingle_store = incremental.empty_stores(spark)
    step = incremental.near_dedup_batch(
        documents.limit(10), band_store, shingle_store
    )
    assert step.survivors.columns == documents.columns
    assert step.band_delta.columns == ["doc_id", "band", "bucket"]
    assert step.shingle_delta.columns == ["doc_id", "sh"]


def test_registry_fast_path_equals_store_replay(spark, documents):
    """incremental_near_dedup's single-pass fast path (global LSH pairs
    + in-driver batch-ordered union-find) must admit exactly the same
    docs as the store replay it optimizes — the two implementations of
    the online keep-first semantics, pinned against each other."""
    perturbed = documents.limit(6).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    corpus = documents.unionByName(perturbed).cache()
    fast = {
        r.doc_id
        for r in incremental.incremental_near_dedup(corpus, 0.7).collect()
    }
    n = corpus.agg(F.max("doc_id")).first()[0] + 1
    bc = (F.col("doc_id") * 3 / n).cast("int")
    batches = [corpus.filter(bc == k).cache() for k in range(3)]
    store = {
        r.doc_id
        for r in incremental.near_dedup_replay(batches, threshold=0.7)
        .select("doc_id")
        .collect()
    }
    assert fast == store
    # force the over-bound fallback (precomputed single-scan replay):
    # same survivors again, and the precomputed wiring is exercised
    fallback = {
        r.doc_id
        for r in incremental.incremental_near_dedup(
            corpus, 0.7, max_driver_pairs=0
        ).collect()
    }
    assert fallback == store


def test_driver_form_runs_without_pinned_threads(spark, documents, monkeypatch):
    """Under ``PYSPARK_PIN_THREAD=false`` ``inheritable_thread_target``
    returns its argument unchanged — handed the session, it returns
    the session, which is not callable. The driver form must fall
    back to the bare callable and return the same survivors."""
    import pyspark.util

    want = sorted(
        map(tuple, incremental.incremental_near_dedup(documents).collect())
    )
    monkeypatch.setattr(
        pyspark.util, "inheritable_thread_target", lambda f=None: f
    )
    got = sorted(
        map(tuple, incremental.incremental_near_dedup(documents).collect())
    )
    assert got == want and got
