"""Structured Streaming layer (SURVEY.md §2.J W1-W8, §2.K sinks).

    pipeline -- the reference's ingest as one query (raw rows +
                watermarked hourly partials per micro-batch), and the
                stateful hourly aggregation it is tested against
    sinks    -- upsert-by-PK parquet sink (Cassandra last-write-wins
                analogue, folding partial rows) + compaction job
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
    lateness -- watermark-lateness accounting (per-epoch drop counts
                for candidate delays; tuning recommendation)
    cassandra -- connector sink options (prod backend; no cluster here)
"""
