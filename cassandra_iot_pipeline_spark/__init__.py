"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference IoT pipeline (Pippinu/cassandra-iot-pipeline).

The reference is a Kafka -> Spark Structured Streaming -> Cassandra
pipeline (reference: iot-cassandra-pipeline/src/spark_consumer.py). This
package re-expresses its full operator surface -- plus the serving reads
its Cassandra schema is designed for, plus large-scale training-data
pipeline extensions (dedup, similarity search, text analysis, multimodal
columns) -- as idiomatic PySpark: declarative DataFrame/SQL plans that
Catalyst + Tungsten optimize, with Pandas UDFs only where built-in
operators cannot express the semantics.

Layout:
    session    -- SparkSession factory (AQE, UTC, Arrow, nanos handling)
    catalog    -- fixture-table catalog over /root/testdata parquet dirs
    schemas    -- typed StructType contracts mirroring the .avsc schemas
    api        -- IoTEngine: ingest + serving reads over the two tables
    store      -- the delta+base MergeableStore and foreachBatch runner
    operators/ -- batch operator library (agg, serving reads, joins,
                  funnel, series)
    sources/   -- decode paths (Avro wire format, JSON, JSONL) + event
                  generator + Kafka/registry connectors
    functions/ -- text analysis, dedup, similarity, multimodal (extensions)
    streaming/ -- Structured Streaming pipeline (watermark, windows, sinks)
    plans/     -- plan-introspection helpers (pushdown/broadcast asserts)

Modules no entry point imports stay only under a keep rule; the ledger
is ``tests/test_layout.py::KEPT`` (DESIGN.md §18).
"""

__version__ = "0.1.0"
