"""Sketches, schema-registry client, Kafka builder structure."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.operators.stats import approx_user_count
from cassandra_iot_pipeline_spark.schemas import SENSOR_EVENT_AVRO
from cassandra_iot_pipeline_spark.sources.kafka import kafka_source_options
from cassandra_iot_pipeline_spark.sources.registry import (
    check_backward_compatible,
    fetch_latest_schema,
    sensor_event_schema,
)
from tests.conftest import SF_DIR


def test_approx_count_within_rsd(spark):
    events = load_table(spark, SF_DIR, "events")
    row = approx_user_count(events, rsd=0.05).head()
    assert abs(row.approx_users - row.exact_users) <= max(
        3, 0.15 * row.exact_users
    ), f"HLL estimate {row.approx_users} too far from {row.exact_users}"


def test_kmv_exact_branch_below_k(spark):
    """Fewer distinct users than k: the sketch holds the whole universe
    and the estimate IS the exact count (the CASE n < k branch)."""
    from cassandra_iot_pipeline_spark.operators.stats import kmv_user_count

    events = load_table(spark, SF_DIR, "events")
    row = kmv_user_count(events).head()
    assert row.kmv_users == float(row.exact_users)


def test_kmv_sketch_branch_accuracy(spark):
    """Above k distinct users the (k-1)/h_(k) estimator engages; with
    k=256 the expected relative error is ~6%, so 20% is a safe pin."""
    from pyspark.sql import functions as F

    from cassandra_iot_pipeline_spark.operators.stats import kmv_user_count

    n_users = 5000
    events = spark.range(n_users * 4).select(
        (F.col("id") % n_users).alias("user_id")
    )
    row = kmv_user_count(events).head()
    assert row.exact_users == n_users
    assert row.kmv_users != float(n_users)  # genuinely the sketch branch
    assert abs(row.kmv_users - n_users) < 0.2 * n_users, row.kmv_users


def test_kmv_partition_invariance(spark):
    """The estimate depends only on the distinct-hash set, never on the
    physical layout — repartitioning must not move a single bit."""
    from pyspark.sql import functions as F

    from cassandra_iot_pipeline_spark.operators.stats import kmv_user_count

    events = spark.range(2000 * 3).select((F.col("id") % 2000).alias("user_id"))
    a = kmv_user_count(events).head()
    b = kmv_user_count(events.repartition(17)).head()
    assert (a.exact_users, a.kmv_users) == (b.exact_users, b.kmv_users)


def test_registry_fetch_and_fallback():
    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            body = json.dumps({"schema": SENSOR_EVENT_AVRO, "id": 1}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        url = f"http://127.0.0.1:{server.server_port}"
        got = fetch_latest_schema(url, "sensor-events-value")
        assert json.loads(got)["name"] == "SensorEvent"
        # plan-time caching: second call hits the lru_cache
        assert fetch_latest_schema(url, "sensor-events-value") is got
    finally:
        server.shutdown()
    # offline fallback returns the vendored contract
    assert sensor_event_schema("http://127.0.0.1:1") == SENSOR_EVENT_AVRO
    assert sensor_event_schema(None) == SENSOR_EVENT_AVRO


def test_backward_compatibility_check():
    base = json.loads(SENSOR_EVENT_AVRO)
    # adding a field WITH a default: compatible
    with_default = dict(base)
    with_default["fields"] = base["fields"] + [
        {"name": "battery", "type": ["null", "float"], "default": None}
    ]
    assert check_backward_compatible(SENSOR_EVENT_AVRO, json.dumps(with_default)) == []
    # adding a required field without default: violation (the negative
    # test the reference runs against the live registry,
    # docs/data-contracts.md:252-275)
    without_default = dict(base)
    without_default["fields"] = base["fields"] + [
        {"name": "firmware", "type": "string"}
    ]
    problems = check_backward_compatible(
        SENSOR_EVENT_AVRO, json.dumps(without_default)
    )
    assert any("firmware" in p for p in problems)


def test_kafka_source_options_match_reference():
    opts = kafka_source_options("broker:9092", "sensor-events")
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "false"
    assert opts["subscribe"] == "sensor-events"
