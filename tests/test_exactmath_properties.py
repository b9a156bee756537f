"""Property tests for the cross-engine determinism machinery.

The engine's exactness claims rest on: integer-units sums are invariant
to partitioning/aggregation order, and per-row unit conversion is exact
for 2-decimal inputs. Hypothesis pins both, plus edge cases (empty
inputs through the operator surface)."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.operators.agg import hourly_rollup
from cassandra_iot_pipeline_spark.operators.exactmath import exact_sum
from cassandra_iot_pipeline_spark.operators.serving import latest_n_per_device
from cassandra_iot_pipeline_spark.operators.upsert import latest_by_pk
from tests.conftest import SF_DIR

two_decimals = st.decimals(
    min_value=Decimal("-99999.99"),
    max_value=Decimal("99999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@given(values=st.lists(two_decimals, min_size=1, max_size=60), parts=st.integers(1, 7))
@settings(max_examples=12, deadline=None)
def test_exact_sum_is_partition_invariant(spark, values, parts):
    floats = [float(v) for v in values]
    df = spark.createDataFrame([(v,) for v in floats], "value double")
    total = (
        df.repartition(parts)
        .agg(exact_sum(F.col("value"), 2).alias("units"))
        .head()["units"]
    )
    expected = sum(int(v * 100) for v in values)  # exact via Decimal
    assert total == expected


def test_unit_conversion_exact_for_two_decimal_inputs(spark):
    # every representable x.xx in a wide range converts exactly
    df = spark.range(-200000, 200000).select(
        (F.col("id") / 100).cast("double").alias("value"), F.col("id")
    )
    mismatches = df.filter(
        F.round(F.col("value") * 100).cast("long") != F.col("id")
    ).count()
    assert mismatches == 0


def test_operators_on_empty_input(spark):
    events = load_table(spark, SF_DIR, "events").filter(F.lit(False))
    assert hourly_rollup(events).count() == 0
    assert latest_n_per_device(events, 3).count() == 0
    assert latest_by_pk(events, ("user_id",), "ts").count() == 0


def test_hourly_rollup_single_row(spark):
    events = load_table(spark, SF_DIR, "events").limit(1)
    row = hourly_rollup(events).head()
    src = events.head()
    assert row.event_count == 1
    assert row.avg_value == row.max_value == row.min_value == src.value
