"""Ordered multi-step funnel (operators/funnel.py): hand-computed
chains, strictly-after and horizon semantics, fixture-scale DuckDB
parity (displaced-registry discipline), monotonicity invariants, and
the plan shape (the step-type IN filter reaches the parquet scan; one
user-keyed exchange does the wide work)."""

from __future__ import annotations

import datetime as dt

import pytest

from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.operators.funnel import funnel, funnel_oracle
from cassandra_iot_pipeline_spark.plans import assert_pushed_filter
from tests.conftest import SF_DIR
from tools.oracle_check import compare

SCHEMA = "user_id BIGINT, ts TIMESTAMP, event_type STRING"


def _t(minutes: int, micros: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(
        minutes=minutes, microseconds=micros
    )


def _run(spark, rows, steps, horizon=None):
    df = funnel(
        spark.createDataFrame(rows, SCHEMA), steps, horizon_seconds=horizon
    )
    return {
        r["step"]: (r["n_users"], r["conversion"], r["step_rate"])
        for r in df.collect()
    }


def test_hand_computed_chain(spark):
    """User 1 completes a->b->c in order; user 2 does b before a (b
    must NOT count — it precedes their first a); user 3 only reaches
    a. Greedy-earliest: user 1's second b is irrelevant."""
    rows = [
        (1, _t(0), "a"), (1, _t(1), "b"), (1, _t(5), "b"), (1, _t(6), "c"),
        (2, _t(0), "b"), (2, _t(1), "a"), (2, _t(2), "c"),
        (3, _t(0), "a"),
    ]
    got = _run(spark, rows, ["a", "b", "c"])
    assert got["a"] == (3, 1.0, None)
    # user 2 never does b after their a -> only user 1 reaches b, c
    assert got["b"] == (1, 1.0 / 3, 1.0 / 3)
    assert got["c"] == (1, 1.0 / 3, 1.0)


def test_median_time_to_step(spark):
    """Three users convert a->b at 10, 20 and 40 minutes: median 20,
    mean ~23.3; step 0 medians are exactly 0.0."""
    rows = [
        (1, _t(0), "a"), (1, _t(10), "b"),
        (2, _t(0), "a"), (2, _t(20), "b"),
        (3, _t(0), "a"), (3, _t(40), "b"),
    ]
    got = {
        r["step"]: (
            r["median_micros_from_first"], r["avg_micros_from_first"]
        )
        for r in funnel(
            spark.createDataFrame(rows, SCHEMA), ["a", "b"]
        ).collect()
    }
    minute = 60e6
    assert got["a"] == (0.0, 0.0)
    assert got["b"][0] == 20 * minute
    assert abs(got["b"][1] - 70 * minute / 3) < 1e-6


def test_strictly_after_same_microsecond(spark):
    """A step-2 event at EXACTLY the step-1 timestamp does not chain
    (strict >), in both engines by construction."""
    rows = [
        (1, _t(0), "a"), (1, _t(0), "b"),          # same microsecond
        (2, _t(0), "a"), (2, _t(0, micros=1), "b"),  # 1 us later: counts
    ]
    got = _run(spark, rows, ["a", "b"])
    assert got["a"] == (2, 1.0, None)
    assert got["b"] == (1, 0.5, 0.5)


def test_horizon_cuts_late_steps(spark):
    """The horizon is measured from the user's FIRST step-0 event;
    steps after it do not count even when correctly ordered."""
    rows = [
        (1, _t(0), "a"), (1, _t(30), "b"),   # inside 1 h
        (2, _t(0), "a"), (2, _t(90), "b"),   # outside
    ]
    got = _run(spark, rows, ["a", "b"], horizon=3600)
    assert got["b"] == (1, 0.5, 0.5)
    # boundary: exactly t0 + horizon is INSIDE (<=)
    rows = [(1, _t(0), "a"), (1, _t(60), "b")]
    got = _run(spark, rows, ["a", "b"], horizon=3600)
    assert got["b"] == (1, 1.0, 1.0)


def test_greedy_earliest_not_best_chain(spark):
    """The contract is the greedy chain, not the maximal one: user's
    earliest b at t1 blocks nothing here, but their earliest a is the
    anchor even when a LATER a would let more steps fit the horizon."""
    rows = [
        (1, _t(0), "a"),            # anchor (greedy)
        (1, _t(120), "a"),          # a later a would fit b in horizon
        (1, _t(150), "b"),          # 150 min after anchor: outside 1 h
    ]
    got = _run(spark, rows, ["a", "b"], horizon=3600)
    assert got["b"] == (0, 0.0, 0.0)


def test_all_steps_present_when_unreached(spark):
    rows = [(1, _t(0), "a")]
    df = funnel(
        spark.createDataFrame(rows, SCHEMA), ["a", "b", "c"]
    ).orderBy("step_idx")
    out = df.collect()
    assert [r["step"] for r in out] == ["a", "b", "c"]
    assert [r["n_users"] for r in out] == [1, 0, 0]
    assert out[1]["avg_micros_from_first"] is None


def test_rejects_bad_steps(spark):
    df = None
    with pytest.raises(ValueError):
        funnel(df, ["only"])
    with pytest.raises(ValueError):
        funnel(df, ["a", "b", "a"])


def test_fixture_duckdb_parity(spark, duck):
    events = load_table(spark, SF_DIR, "events")
    cases = [
        (["view", "click", "purchase"], None),
        (["signup", "view", "click", "purchase"], 7 * 86_400),
        (["view", "purchase"], 3600),
    ]
    for steps, hz in cases:
        spark_pdf = funnel(events, steps, horizon_seconds=hz).toPandas()
        oracle_pdf = duck.sql(
            funnel_oracle(steps, horizon_seconds=hz)
        ).df()
        assert compare(spark_pdf, oracle_pdf) == [], (steps, hz)


def test_monotone_counts(spark):
    """Reaching step i implies having reached step i-1: counts are
    non-increasing and conversion is within [0, 1]."""
    events = load_table(spark, SF_DIR, "events")
    rows = (
        funnel(events, ["signup", "view", "click", "purchase"])
        .orderBy("step_idx")
        .collect()
    )
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(0.0 <= r["conversion"] <= 1.0 for r in rows)
    assert rows[0]["conversion"] == 1.0


def test_step_filter_pushed_to_scan(spark):
    """Only funnel-typed events leave the scan: the IN predicate is
    in PushedFilters, so the user-keyed exchange carries a fraction
    of the corpus."""
    events = load_table(spark, SF_DIR, "events")
    df = funnel(events, ["view", "purchase"])
    assert_pushed_filter(df, "In(event_type")
