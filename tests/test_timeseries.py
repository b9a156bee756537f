"""Hypertable serving primitive over irregular samples
(operators/timeseries.py): the time-weighted average. Hand-computed semantics, fixture-scale DuckDB parity (the
displaced-registry discipline: full value oracles in pytest), and the
plan shape (one scan, one window exchange, no joins)."""

from __future__ import annotations

import datetime as dt

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.operators import timeseries
from tests.conftest import SF_DIR
from tools.oracle_check import compare


def _ts(minute: int, second: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, second)


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
    )


def test_time_weighted_avg_hand_computed(spark):
    """The motivating case: 59 min of 20.0 then 1 min of 80.0. COUNT
    weighting says 50.0; LOCF time weighting says 21.0 over the hour
    (the 80.0 closes the span with weight 0 at minute 60)."""
    rows = [
        (1, _ts(0), 20.00),
        (1, _ts(59), 80.00),
        (1, dt.datetime(2024, 1, 1, 1, 0), 80.00),
        (2, _ts(5), 7.25),  # single-sample key: tw = the sample
        (3, _ts(1), 10.00),  # NULL neither anchors nor weights
        (3, _ts(2), None),
        (3, _ts(3), 30.00),
    ]
    got = {
        r["user_id"]: r
        for r in timeseries.time_weighted_avg(_frame(spark, rows)).collect()
    }
    # user 1: 2000u*3540s + 8000u*60s over 3600s = 2100u = 21.00
    assert got[1]["span_us"] == 3_600_000_000 and got[1]["n_samples"] == 3
    assert got[1]["tw_avg"] == 21.0
    assert got[2]["span_us"] == 0 and got[2]["tw_avg"] == 7.25
    # user 3: 1000u*120s + 3000u*0 over 120s = 10.00 (NULL skipped)
    assert got[3]["n_samples"] == 2 and got[3]["tw_avg"] == 10.0


def test_time_weighted_avg_subsecond_weights(spark):
    """r7 verdict #4: the integration grain is microseconds — samples
    spaced inside one second carry their true LOCF weights where the
    whole-second form gave the earlier one zero weight (its truncated
    t equalled its successor's)."""
    base = dt.datetime(2024, 1, 1)

    def us(micro):
        return base + dt.timedelta(microseconds=micro)

    rows = [
        (1, us(0), 10.00),          # holds 0.25s
        (1, us(250_000), 30.00),    # holds 0.75s
        (1, us(1_000_000), 30.00),  # closes the 1s span, weight 0
    ]
    got = timeseries.time_weighted_avg(_frame(spark, rows)).collect()[0]
    assert got["span_us"] == 1_000_000 and got["n_samples"] == 3
    # exact division path: (1000u*250000 + 3000u*750000) / 1e6 / 100
    assert got["tw_avg"] == (1000 * 250_000 + 3000 * 750_000) / 1e6 / 100
    assert got["tw_avg"] == 25.0  # the whole-second form reported 30.0


def test_time_weighted_avg_numerator_beyond_int64(spark, duck):
    """The decimal(38,0) numerator is exact past 2^63 where a BIGINT
    sum would wrap: huge scale-2 values over multi-year spans still
    match the oracle's HUGEINT arithmetic bitwise."""
    year = dt.datetime(2000, 1, 1)
    rows = [
        # u = 9.2e14 units; dus = 10 years in us (~3.16e14)
        # -> each product ~2.9e29, far beyond int64
        (1, year, 9_200_000_000_000.00),
        (1, dt.datetime(2010, 1, 1), 9_100_000_000_000.00),
        (1, dt.datetime(2020, 1, 1), 9_300_000_000_000.00),
        (2, year, -9_200_000_000_000.00),
        (2, dt.datetime(2030, 1, 1), 1.00),
    ]
    f = _frame(spark, rows)
    f.createOrReplaceTempView("_tw_huge")
    spark_pdf = timeseries.time_weighted_avg(f).toPandas()
    duck.register("_tw_huge_pd", f.toPandas())
    oracle_pdf = duck.sql(
        timeseries.time_weighted_avg_oracle(table="_tw_huge_pd")
    ).df()
    assert compare(spark_pdf, oracle_pdf) == []
    # sanity: the numerator really left int64 territory (u ~ 9.2e14
    # units x dus ~ 3.2e14 us per pair >> 2^63)
    got = {r["user_id"]: r for r in spark_pdf.to_dict("records")}
    assert got[1]["span_us"] > 6e14


def test_fixture_duckdb_parity(spark, duck):
    events = load_table(spark, SF_DIR, "events")
    spark_pdf = timeseries.time_weighted_avg(events).toPandas()
    oracle_pdf = duck.sql(timeseries.time_weighted_avg_oracle()).df()
    assert compare(spark_pdf, oracle_pdf) == []


def test_multi_key_and_device_grain(spark, duck):
    """Both primitives accept composite keys; parity holds at the
    (user_id, event_type) grain the fixture actually mixes."""
    events = load_table(spark, SF_DIR, "events")
    keys = ("user_id", "event_type")
    spark_pdf = timeseries.time_weighted_avg(events, key=keys).toPandas()
    oracle_pdf = duck.sql(
        timeseries.time_weighted_avg_oracle(keys=keys)
    ).df()
    assert compare(spark_pdf, oracle_pdf) == []


def test_plan_shape(spark):
    events = load_table(spark, SF_DIR, "events")
    df = timeseries.time_weighted_avg(events)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "Join" not in final
    # one exchange into the per-key window; the tw groupBy reuses
    # that clustering (partial agg + no second hash exchange on a
    # superset key is not guaranteed by AQE coalescing, so allow
    # <= 2 but never a third)
    assert final.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
