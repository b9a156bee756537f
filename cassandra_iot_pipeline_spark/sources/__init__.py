"""Source-side decode paths and data generation.

    projections -- scalar transforms P1-P9 (epoch math, casts, pruning)
    json_decode -- legacy JSON decode path (from_json / get_json_object)
    avro_wire   -- Confluent-framed Avro wire format codec (pure Python
                   decoder via mapInPandas; no spark-avro jar needed)
    generator   -- deterministic distributed sensor-event generator
    jsonl       -- JSONL corpus landing with a corrupt-record quarantine
    kafka       -- Kafka source/sink options (prod ingest; no broker here)
    registry    -- Schema Registry client (prod; no registry here)
"""
