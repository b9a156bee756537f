"""End-to-end corpus pipeline: JSONL ingest (with planted corrupt
lines) → quarantine → curation (planted junk, PII, exact + near dups)
→ packing coverage of the train split. One test file proving the
corpus surfaces compose into the lifecycle a training-data owner
actually runs."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from cassandra_iot_pipeline_spark.functions.curation import (
    CurationConfig,
    curate_corpus,
)
from cassandra_iot_pipeline_spark.sources.jsonl import land_jsonl

VOCAB = (
    "the quick brown fox jumps over lazy dog while seven wizards "
    "brew strong coffee under ancient oak trees near quiet rivers"
).split()


def _doc(i: int) -> str:
    # pseudo-random per (i, j): rotation-structured sequences would
    # share nearly all shingles and near-dup-cluster the whole corpus
    words = [
        VOCAB[((i * 1_000_003 + j * 7_919) ^ (j * j)) % len(VOCAB)]
        for j in range(30)
    ]
    return " ".join(words)


def _jsonl_lines() -> list[str]:
    lines = [
        json.dumps({"doc_id": i, "text": _doc(i), "lang": "en"})
        for i in range(30)
    ]
    # planted: an exact duplicate of doc 3
    lines.append(json.dumps({"doc_id": 100, "text": _doc(3), "lang": "en"}))
    # planted: a near duplicate of doc 5 (one word changed)
    near = _doc(5).split()
    near[10] = "coffee"
    lines.append(
        json.dumps({"doc_id": 101, "text": " ".join(near), "lang": "en"})
    )
    # planted: junk (too short)
    lines.append(json.dumps({"doc_id": 102, "text": "xx", "lang": "en"}))
    # planted: PII
    lines.append(
        json.dumps(
            {
                "doc_id": 103,
                "text": _doc(9) + " contact me at alice@example.com now",
                "lang": "en",
            }
        )
    )
    # planted: corrupt lines
    lines.append('{"doc_id": 999, "text": "truncat')
    lines.append("utter garbage")
    return lines


def test_ingest_curate_tokenize_pack(spark, tmp_path):
    """Ingest, quarantine, curate and pack one planted corpus. No
    tokenizer stage runs; the name stays because
    ``slow_manifest.txt`` lists the test by it."""
    src = tmp_path / "corpus.jsonl"
    src.write_text("\n".join(_jsonl_lines()) + "\n")

    # -- ingest with quarantine ------------------------------------------
    good, bad, report = land_jsonl(
        spark,
        str(src),
        "doc_id BIGINT, text STRING, lang STRING",
        str(tmp_path / "landed"),
        required=["text"],
    )
    rep = report.collect()[0]
    assert rep["n_corrupt"] == 2
    assert rep["n_lines"] == 36
    assert bad.count() == 2

    # -- curation ----------------------------------------------------------
    docs = good.select("doc_id", "text", "lang")
    cc = curate_corpus(
        docs,
        CurationConfig(min_tokens=5, minhash_threshold=0.7),
    )
    crep = cc.report()
    assert crep["documents"] == 34
    assert crep["kept_after_filter"] == 33          # junk 102 gone
    assert crep["docs_with_pii"] == 1               # doc 103
    # exact dup (100), near dup (101), AND the PII doc 103 — which is
    # doc 9 plus a contact suffix, i.e. itself a near-dup at ~0.79
    # Jaccard — fold into clusters; nothing else does
    assert crep["removed_as_duplicates"] == 3
    assert crep["after_dedup"] == 30
    curated = cc.curated
    texts = {r["doc_id"]: r["text"] for r in curated.collect()}
    assert not {100, 101, 102, 103} & set(texts)  # 103 lost to doc 9
    assert all("alice@example.com" not in t for t in texts.values())

    train = curated.filter(F.col("split") == "train").select(
        "doc_id", "text"
    )
    assert train.count() > 20

    # -- packing covers exactly the train split ------------------------------
    packed_ids = {
        r["doc_id"]
        for r in cc.packing.select("doc_id").distinct().collect()
    }
    train_ids = {r["doc_id"] for r in train.collect()}
    assert packed_ids == train_ids
