"""Aggregation operators (SURVEY.md §2.E, A1-A6).

The flagship is the reference's hourly windowed rollup
(reference: iot-cassandra-pipeline/src/spark_consumer.py:174-192):
``groupBy(device_id, window(event_time, '1 hour'))`` with
avg/max/min/count, projected to an epoch-seconds ``hour_bucket``
(reference: spark_consumer.py:187).

Batch form here; the streaming form (watermark + append mode) lives in
``streaming/pipeline.py`` and shares these column expressions.

Scale notes (100 TB): a groupBy on (device, hour) is a single shuffle
with map-side partial aggregation (HashAggregateExec partial -> exchange
-> final); cardinality is bounded by |devices| x |hours|, so the shuffle
payload is the *aggregate* rows, not the input. Skewed devices are
handled by AQE; no collect, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .exactmath import exact_sum


def hourly_rollup(
    events: DataFrame,
    device_col: str = "user_id",
    ts_col: str = "ts",
    measure_col: str = "value",
) -> DataFrame:
    """Per-device hourly aggregate — the engine's flagship query.

    Output contract mirrors HourlyAggregate.avsc (reference:
    iot-cassandra-pipeline/schemas/HourlyAggregate.avsc:6-37) over the
    fixture column names:

        device_id   : group key (fixture user_id)
        hour_bucket : epoch seconds of the hour window start (bigint)
        avg_value   : mean measure (exact integer-units arithmetic)
        max_value / min_value
        event_count : rows per group (bigint)

    ``window(ts, '1 hour')`` and ``date_trunc('hour', ts)`` floor to the
    same UTC hour boundary; we use date_trunc in batch (simpler plan, one
    expression instead of a window struct) and window() in streaming —
    tests assert boundary equivalence.
    """
    return (
        events.groupBy(
            F.col(device_col).alias("device_id"),
            F.unix_timestamp(F.date_trunc("hour", F.col(ts_col)))
            .cast("long")
            .alias("hour_bucket"),
        )
        .agg(
            exact_sum(F.col(measure_col), 2).alias("sum_units"),
            F.max(measure_col).alias("max_value"),
            F.min(measure_col).alias("min_value"),
            F.count(F.lit(1)).alias("event_count"),
        )
        .select(
            "device_id",
            "hour_bucket",
            # integer-units sum -> two correctly-rounded divisions;
            # deterministic across engines (see operators/exactmath.py).
            (F.col("sum_units") / F.lit(100.0) / F.col("event_count")).alias(
                "avg_value"
            ),
            "max_value",
            "min_value",
            "event_count",
        )
    )


def hourly_rollup_oracle() -> str:
    """DuckDB oracle for :func:`hourly_rollup` at any sf."""
    return """
        SELECT
            user_id AS device_id,
            CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_bucket,
            (SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 / COUNT(*)) AS avg_value,
            MAX(value) AS max_value,
            MIN(value) AS min_value,
            COUNT(*) AS event_count
        FROM events
        GROUP BY 1, 2
    """


def rollup_by_type(events: DataFrame) -> DataFrame:
    """Grouped aggregation over a categorical key (A2-A6 shape over the
    ``event_type`` column — the fixture analogue of grouping by
    ``location``)."""
    return (
        events.groupBy(F.col("event_type"))
        .agg(
            exact_sum(F.col("value"), 2).alias("sum_units"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("event_count"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .select(
            "event_type",
            (F.col("sum_units") / F.lit(100.0)).alias("sum_value"),
            (F.col("sum_units") / F.lit(100.0) / F.col("event_count")).alias(
                "avg_value"
            ),
            "max_value",
            "min_value",
            "event_count",
            "n_users",
        )
    )


def rollup_by_type_oracle() -> str:
    return """
        SELECT
            event_type,
            (SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0) AS sum_value,
            (SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 / COUNT(*)) AS avg_value,
            MAX(value) AS max_value,
            MIN(value) AS min_value,
            COUNT(*) AS event_count,
            COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """


def event_type_totals(events: DataFrame) -> DataFrame:
    """A5 + A6 in one plan: per-type aggregates (`rollup_by_type`) plus
    the grand-total row (`global_count`) via ``rollup(event_type)`` —
    grouping sets ((event_type), ()), one shuffle, map-side partial
    aggregation for both levels. The ``event_type IS NULL`` row is the
    global rollup (fixture values never contain NULL types)."""
    return (
        events.rollup(F.col("event_type"))
        .agg(
            exact_sum(F.col("value"), 2).alias("sum_units"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("event_count"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .select(
            "event_type",
            (F.col("sum_units") / F.lit(100.0)).alias("sum_value"),
            (F.col("sum_units") / F.lit(100.0) / F.col("event_count")).alias(
                "avg_value"
            ),
            "max_value",
            "min_value",
            "event_count",
            "n_users",
        )
    )


def event_type_totals_oracle() -> str:
    return """
        SELECT
            event_type,
            (SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0) AS sum_value,
            (SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 / COUNT(*)) AS avg_value,
            MAX(value) AS max_value,
            MIN(value) AS min_value,
            COUNT(*) AS event_count,
            COUNT(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY ROLLUP(event_type)
    """


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over the lineitem fixture —
    the standard multi-aggregate scan exercising partial aggregation,
    the core batch-analytics shape the engine must sustain at 100 TB.

    All money sums use integer-cents arithmetic (exact; see
    operators/exactmath.py). disc_price = extprice*(1-disc) and
    charge = extprice*(1-disc)*(1+tax) are per-row doubles computed
    identically by any IEEE engine, rounded to cents per row.
    """
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity"), 2).alias("qty_units"),
            exact_sum(F.col("l_extendedprice"), 2).alias("base_units"),
            exact_sum(disc_price, 2).alias("disc_units"),
            exact_sum(charge, 2).alias("charge_units"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            (F.col("qty_units") / F.lit(100.0)).alias("sum_qty"),
            (F.col("base_units") / F.lit(100.0)).alias("sum_base_price"),
            (F.col("disc_units") / F.lit(100.0)).alias("sum_disc_price"),
            (F.col("charge_units") / F.lit(100.0)).alias("sum_charge"),
            (F.col("qty_units") / F.lit(100.0) / F.col("count_order")).alias(
                "avg_qty"
            ),
            (F.col("base_units") / F.lit(100.0) / F.col("count_order")).alias(
                "avg_price"
            ),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def pricing_summary_oracle() -> str:
    return """
        SELECT
            l_returnflag,
            l_linestatus,
            (SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0) AS sum_qty,
            (SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0) AS sum_base_price,
            (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) / 100.0) AS sum_disc_price,
            (SUM(CAST(ROUND((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100) AS BIGINT)) / 100.0) AS sum_charge,
            (SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 / COUNT(*)) AS avg_qty,
            (SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(*)) AS avg_price,
            COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """


def global_count(events: DataFrame) -> DataFrame:
    """A6: global COUNT(*) — the reference's serving-side smoke check
    (reference: iot-cassandra-pipeline/monitoring/monitor.sh:83-84)."""
    return events.agg(F.count(F.lit(1)).alias("n_rows"))


def global_count_oracle() -> str:
    return "SELECT COUNT(*) AS n_rows FROM events"
