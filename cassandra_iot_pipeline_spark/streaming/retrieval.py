"""Continuous inverted-index ingestion — the streaming wrapper around
``functions/retrieval.py::PostingsStore`` (the AnnIndexStore pattern
for text retrieval): documents stream in, postings and corpus stats
land as epoch deltas, and BM25 queries against the live store are
bit-identical to the batch operator over every document ingested so
far (pinned in tests)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..functions.retrieval import PostingsStore
from ..store import run_foreach_batch
from .staging import read_staged


def streaming_postings_ingest(
    spark: SparkSession,
    staged_docs_dir: str,
    docs_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_groups: int = PostingsStore.N_GROUPS,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged document directory through the postings store
    (file order = ingest order, the streaming/dedup.py convention).
    Returns the started StreamingQuery; query the live index with
    ``PostingsStore(base_dir, ...).bm25_topk(spark, query, k)``."""
    store = PostingsStore(
        base_dir,
        id_col=id_col,
        text_col=text_col,
        n_groups=n_groups,
        compact_every=compact_every,
    )
    stream = read_staged(
        spark, docs_schema, staged_docs_dir, max_files_per_trigger
    )
    return run_foreach_batch(
        stream, store.write_batch, checkpoint_dir, trigger
    )
