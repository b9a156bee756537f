"""The benchmark's own tests: generator determinism, checkers that catch
wrong answers, and layer accounting that reconciles with wall time.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)

import catalog  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from tracing import (Job, Span, phase_gap, read_event_logs, span_layers,  # noqa: E402
                     trigger_intervals, union_s)

SPEC = gen.StreamSpec(n_files=3, events_per_file=400)


# --- generator ---------------------------------------------------------------


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = gen.write_stream(gen.make_events(7, 1, SPEC), SPEC, str(tmp_path / "a"))
    b = gen.write_stream(gen.make_events(7, 1, SPEC), SPEC, str(tmp_path / "b"))
    c = gen.write_stream(gen.make_events(8, 1, SPEC), SPEC, str(tmp_path / "c"))
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not filecmp.cmp(a[0], c[0], shallow=False)


def test_files_are_in_event_time_order_with_increasing_mtimes(tmp_path):
    import pyarrow.parquet as pq

    paths = gen.write_stream(gen.make_events(3, 0, SPEC), SPEC, str(tmp_path))
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    ts = [pq.read_table(p).column("ts").to_pylist() for p in paths]
    for earlier, later in zip(ts, ts[1:]):
        assert max(earlier) < min(later)


def test_device_popularity_is_skewed():
    events = gen.make_events(5, 0, gen.StreamSpec(1, 20_000))
    counts = events["user_id"].value_counts()
    assert counts.iloc[0] > 10 * len(events) / gen.N_DEVICES  # top device >10x a uniform share


def test_stream_has_the_profile_of_its_sources():
    got = gen.profile(gen.make_events(2, 0, gen.StreamSpec(1, 50_000)))
    assert 0.9 * gen.N_DEVICES < got["devices"] <= gen.N_DEVICES  # rare ones may not occur
    assert got["events_per_s"] == pytest.approx(100, rel=0.02)
    assert got["gap_median_over_mean"] == pytest.approx(0.69, abs=0.02)  # exponential
    assert got["value_mean"] == pytest.approx(50, rel=0.02)
    assert got["value_median_over_mean"] == pytest.approx(0.69, abs=0.02)
    assert got["value_whole_cents"] and got["event_types"] == 5


# --- checkers ----------------------------------------------------------------


@pytest.fixture()
def events():
    return gen.make_events(11, 0, SPEC)


def test_hourly_checker_accepts_the_right_answer(events):
    want = gen.expected_hourly(events)
    engine_rows = want.drop(columns=["sum_cents"]).sample(frac=1.0, random_state=0)
    assert checks.check_hourly(engine_rows, want) == []


def test_hourly_checker_catches_a_count_off_by_one(events):
    want = gen.expected_hourly(events)
    wrong = want.drop(columns=["sum_cents"]).copy()
    wrong.loc[3, "event_count"] += 1
    assert checks.check_hourly(wrong, want)


def test_hourly_checker_catches_a_missing_row(events):
    want = gen.expected_hourly(events)
    assert checks.check_hourly(want.drop(columns=["sum_cents"]).iloc[1:], want)


def test_counts_checker_catches_a_wrong_count():
    assert checks.check_counts({"a": 1, "b": 2}, {"a": 1, "b": 2}) == []
    assert checks.check_counts({"a": 1, "b": 3}, {"a": 1, "b": 2})


def _spark_rows(expected):
    """Expected latest_events tuples as the Rows ``collect()`` returns."""
    from pyspark.sql import Row

    epoch = dt.datetime(1970, 1, 1)
    return [
        Row(event_id=e, ts=epoch + dt.timedelta(microseconds=t), user_id=u,
            event_type=k, value=v)
        for e, t, u, k, v in expected
    ]


def test_read_checker_catches_a_dropped_row(events):
    import workloads

    device = int(events["user_id"].mode()[0])
    request = ("latest", device, 0, 0)
    hourly = gen.expected_hourly(events)
    rows = _spark_rows(gen.latest_events(events, device, workloads.LATEST_LIMIT))
    assert len(rows) > 2
    assert workloads.check_read(request, rows, events, hourly) == []
    assert workloads.check_read(request, rows[:1] + rows[2:], events, hourly)


def test_read_checker_catches_a_wrong_hourly_value(events):
    import workloads

    hourly = gen.expected_hourly(events)
    device = int(hourly["device_id"].iloc[0])
    mine = hourly[hourly["device_id"] == device].sort_values("hour_bucket", ascending=False)
    rows = gen.hourly_rows(mine)
    request = ("hourly", device, 0, 0)
    assert workloads.check_read(request, rows, events, hourly) == []
    bad = [rows[0][:5] + (rows[0][5] + 1,)] + rows[1:]
    assert workloads.check_read(request, bad, events, hourly)
    ranged = ("range", device, int(mine["hour_bucket"].min()), int(mine["hour_bucket"].max()))
    assert workloads.check_read(ranged, list(reversed(rows)), events, hourly) == []
    assert workloads.check_read(ranged, rows[1:], events, hourly)


# --- layer accounting --------------------------------------------------------


def _job(i, start, end, task_s=0.5, shuffle=10):
    return Job(i, start, end, None, None, None, [i], task_s, shuffle)


def test_union_merges_overlaps_and_clips():
    assert union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2)


def test_leaf_layers_split_wall_time_into_busy_and_no_job():
    spans = [
        Span(0, "read", 0.0, 5.0, None, "r"),
        Span(1, "construct", 0.0, 1.0, 0, "r"),
        Span(2, "collect", 1.0, 4.9, 0, "r"),
    ]
    jobs = {2: [_job(1, 1.5, 3.0), _job(2, 2.5, 4.0)]}
    layers = span_layers(spans, jobs)
    for leaf in (layers[1], layers[2]):
        assert leaf["job_busy_s"] + leaf["no_job_s"] == pytest.approx(leaf["wall_s"])
    assert layers[2]["job_busy_s"] == pytest.approx(2.5)
    assert layers[0]["jobs"] == 2 and layers[0]["shuffle_bytes"] == 20
    assert layers[0]["self_s"] == pytest.approx(0.1)


def _progress(ts, trigger, **phases):
    return {"timestamp": ts, "durationMs": dict(phases, triggerExecution=trigger)}


def test_progress_phases_reconcile_with_trigger_time():
    full = [
        _progress("2024-01-01T00:00:00.000Z", 100, addBatch=80, walCommit=10, commitOffsets=5,
                  queryPlanning=3, latestOffset=1, getBatch=0),
        _progress("2024-01-01T00:00:01.000Z", 200, addBatch=170, walCommit=20, commitOffsets=8,
                  queryPlanning=1, latestOffset=1),
    ]
    assert phase_gap(full) == pytest.approx(1 / 300)
    assert phase_gap(full) < 0.05
    missing = [_progress("2024-01-01T00:00:02.000Z", 300, addBatch=200)]
    assert phase_gap(full + missing) == pytest.approx(101 / 600)  # flagged: > 0.05


def test_trigger_time_reconciles_with_call_wall_time():
    progress = [
        _progress("2024-01-01T00:00:01.000Z", 500),  # query 1
        _progress("2024-01-01T00:00:01.250Z", 500),  # query 2, overlapping
        _progress("2024-01-01T00:00:02.000Z", 250),
    ]
    start = 1_704_067_200.0
    intervals = trigger_intervals(progress)
    assert intervals[0] == pytest.approx((start + 1.0, start + 1.5))
    covered = union_s(intervals, start + 0.5, start + 2.5)
    assert covered == pytest.approx(1.0)  # the rest of the 2 s call is start/stop


def test_event_log_parsing(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "r:3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 250,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1], "Properties": {"sql.streaming.queryId": "q",
                                          "streaming.sql.batchId": "4"}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    (job,) = read_event_logs(str(tmp_path))  # job 1 never ended: dropped
    assert (job.group, job.start, job.end) == ("r:3", 1.0, 1.5)
    assert job.task_s == 0.25 and job.shuffle_write_bytes == 64


# --- the benchmark definition ------------------------------------------------


def test_benchmark_json_matches_the_catalog():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        assert json.load(fh) == catalog.benchmark_json()


def test_percentile_is_nearest_rank():
    import workloads

    values = list(range(1, 101))
    assert workloads.percentile(values, 50) == 50
    assert workloads.percentile(values, 90) == 90
    assert workloads.percentile([5.0], 90) == 5.0


def test_normalize_scales_times_up_and_rates_down_on_a_slow_host():
    import types

    import host
    import workloads

    cal = object.__new__(host.Calibration)
    cal.samples_ms = [190.0, 200.0, 260.0]  # median 200 ms: twice the reference
    bench = types.SimpleNamespace(cal=cal)
    raw = {"setup_s": 20.0, "op_p50_ms": 400.0, "op_p90_ms": 500.0,
           "throughput_per_s": 50.0, "peak_rss_mb": 3000.0}
    assert workloads.Bench.normalize(bench, raw) == {
        "setup_s": 10.0, "op_p50_ms": 200.0, "op_p90_ms": 250.0,
        "throughput_per_s": 100.0, "peak_rss_mb": 3000.0}
    assert set(workloads.SCALING) == set(catalog.END_TO_END)
