"""SCD2 dimension history (operators/scd2.py): hand-computed version
chains, null-safe change detection, the tie guard, fixture-scale
DuckDB parity (displaced-registry discipline: full value oracles in
pytest), and the plan shape (one exchange, no joins)."""

from __future__ import annotations

import datetime as dt

import pytest

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.operators import scd2
from tests.conftest import SF_DIR
from tools.oracle_check import compare


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def _us(minute: int) -> int:
    return int(
        dt.datetime(2024, 1, 1, 0, minute, tzinfo=dt.timezone.utc).timestamp()
        * 1_000_000
    )


def _log(spark, rows):
    return spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, seg STRING"
    )


def test_versions_hand_computed(spark):
    """Collapse of no-op updates, version close at the next change,
    re-opening a previously seen value as a NEW version."""
    rows = [
        (1, _ts(0), "a"),
        (1, _ts(1), "a"),   # no-op: collapses into the t0 version
        (1, _ts(2), "b"),   # change: closes [t0, t2), opens b
        (1, _ts(3), "b"),   # no-op
        (1, _ts(4), "a"),   # re-open: a again, NEW version
        (2, _ts(5), "x"),   # single-version key stays open
    ]
    got = sorted(
        tuple(r)
        for r in scd2.scd2_snapshot(
            _log(spark, rows), "user_id", ("seg",), "ts"
        ).collect()
    )
    assert got == [
        (1, "a", _us(0), _us(2), False),
        (1, "a", _us(4), None, True),
        (1, "b", _us(2), _us(4), False),
        (2, "x", _us(5), None, True),
    ]


def test_null_safe_change_detection(spark):
    """NULL attribute values: NULL→NULL collapses, NULL→value and
    value→NULL are real changes (eqNullSafe / IS DISTINCT FROM on
    both engines)."""
    rows = [
        (1, _ts(0), None),
        (1, _ts(1), None),  # collapse
        (1, _ts(2), "v"),   # change
        (1, _ts(3), None),  # change back to NULL
    ]
    got = sorted(
        (
            (r["seg"], r["valid_from_us"], r["valid_to_us"])
            for r in scd2.scd2_snapshot(
                _log(spark, rows), "user_id", ("seg",), "ts"
            ).collect()
        ),
        key=lambda t: t[1],
    )
    assert got == [
        (None, _us(0), _us(2)),
        ("v", _us(2), _us(3)),
        (None, _us(3), None),
    ]


def test_tie_guard_and_seq_ordering(spark):
    """Two updates at one (key, ts): rejected in-plan without a
    tiebreak; ordered deterministically with one."""
    rows = [(1, _ts(0), "a", 10), (1, _ts(0), "b", 11)]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, seg STRING, seq BIGINT"
    )
    with pytest.raises(Exception, match="share one"):
        scd2.scd2_snapshot(df, "user_id", ("seg",), "ts").collect()
    got = sorted(
        (r["seg"], r["is_current"])
        for r in scd2.scd2_snapshot(
            df, "user_id", ("seg",), "ts", seq_col="seq"
        ).collect()
    )
    assert got == [("a", False), ("b", True)]


def test_fixture_duckdb_parity(spark, duck):
    """Snapshot over the events fixture (event_type as the tracked
    attribute, event_id as the tiebreak) matches the DuckDB twin
    bitwise."""
    events = load_table(spark, SF_DIR, "events")
    spark_pdf = scd2.scd2_snapshot(
        events, "user_id", ("event_type",), "ts", seq_col="event_id"
    ).toPandas()
    oracle_pdf = duck.sql(
        scd2.scd2_snapshot_oracle(
            "events", ("user_id",), ("event_type",), "ts", "event_id"
        )
    ).df()
    assert compare(spark_pdf, oracle_pdf) == []
    assert len(spark_pdf) > 0


def test_plan_shape(spark):
    """Snapshot (with seq): ONE exchange — lag and lead share the
    per-key clustering; no joins."""
    events = load_table(spark, SF_DIR, "events")
    dim = scd2.scd2_snapshot(
        events, "user_id", ("event_type",), "ts", seq_col="event_id"
    )
    dim.collect()
    plan = dim._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "Join" not in final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

