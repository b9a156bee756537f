"""Structured Streaming layer (SURVEY.md §2.J W1-W8, §2.K sinks).

    pipeline -- the two continuous queries of the reference
                (raw passthrough + watermarked hourly aggregation)
    sinks    -- upsert-by-PK parquet sink (Cassandra last-write-wins
                analogue) + compaction job
    staging  -- stages fixture tables as time-ordered file sequences so
                a file source can replay them as micro-batches
    joins    -- watermarked stream-stream funnel join
    stateful -- applyInPandasWithState sessionization
    dedup    -- exactly-once ingest landing via
                dropDuplicatesWithinWatermark + the near-dup curation
                pipeline (foreachBatch over the persisted LSH store)
    ann      -- continuous ANN-index ingestion (foreachBatch over the
                persisted IVFADC store)
    substrings -- continuous substring-level boilerplate removal over
                the persisted gram-count store (prefix-consistent
                Lee-et-al marking)
    scd2     -- continuously-maintained SCD2 dimension (touched-key
                epoch deltas, newest-epoch-wins reader) + streaming
                point-in-time fact enrichment
    cohorts  -- continuously-maintained cohort retention (distinct
                (key, period) point store; matrix on read)
    audit    -- continuous data-quality expectations (per-epoch
                metric series; drift + failure views)
    cardinality -- mergeable per-group HLL distinct-count store
                (estimates fold-on-read; batch-reader accessible)
    ohlc     -- continuous OHLC candles (associative order-statistic
                fold; bitwise equal to the batch bars)
    sample   -- continuous weighted reservoir (priority sampling;
                hash-pure priorities collapse cross-epoch redelivery)
    lateness -- watermark-lateness accounting (per-epoch drop counts
                for candidate delays; tuning recommendation)
    metrics  -- streaming throughput listener
    cassandra -- connector sink options (prod backend; no cluster here)
"""
