"""Large-scale training-data pipeline operators (SURVEY.md §7.2 step 6).

Beyond the reference's IoT surface: the operations a 100 TB LLM-data
pipeline runs over document/embedding tables.

    text       -- tokenization, quality scoring, language ID, fingerprints
    dedup      -- exact, blocked-Jaccard, MinHash-LSH, SimHash near-dup
    similarity -- cosine top-k (brute force + LSH/IVF scale paths)
    multimodal -- opaque binary columns: metadata, decode/frame plumbing
    clusters   -- near-dup pairs -> connected components -> resolved corpus
    sampling   -- deterministic splits/samples/caps/mixtures by hash
    cleaning   -- PII redaction, contamination check, sequence packing
    curation   -- the end-to-end filter->redact->dedup->split->pack chain
    bloom      -- persistable corpus sketch for incremental landing dedup
    sketches   -- Count-Min frequency sketch (mergeable, cross-engine exact)
                  + CMS-routed EXACT phi-heavy hitters (frequent_tokens)
    incremental-- online near-dup dedup against a persisted MinHash store
                  (batch step + replay; streaming form in streaming/dedup)
    ann_store  -- persisted IVFADC index (build / add_batch / compact /
                  topk; streaming ingestion in streaming/ann)
    substrings -- exact substring-level dedup (duplicated k-gram spans,
                  merged + removable; hashed 100 TB shuffle tier)
"""
