"""The benchmark's metric catalog, the single source for BENCHMARK.json.

Each per-layer metric names the end-to-end metric it should move and on
which workload, so a gain claimed on one layer can be checked against
the right end-to-end number.  Regenerate BENCHMARK.json with

    python3 perfbench/catalog.py > BENCHMARK.json
"""

from __future__ import annotations

import json

RUN_SECONDS = 12

WORKLOADS = {
    "ingest": (
        "ingest_stream replays of a seeded Zipf-skewed sensor stream: two backlog"
        " calls of large files and a live call of one small file per trigger; runs"
        " the state store and the sink write path"
    ),
    "serve": (
        "closed-loop single-client reads (50% latest_events, 25% hourly_aggregates,"
        " 25% device_hourly_range) over an uncompacted multi-epoch warehouse;"
        " runs the api and sink read path"
    ),
}

# name -> (unit, better, bound, meaning per workload); times and rates
# are scaled to the reference host (host.Calibration)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "one cold set-up: JVM launch, session build and warm-up; serve also builds"
                " its warehouse"),
    "op_p50_ms": ("ms", "lower", 0.25,
                  "ingest: live micro-batch trigger time, both queries; serve: read latency"),
    "op_p90_ms": ("ms", "lower", 0.25,
                  "ingest: live micro-batch trigger time, both queries; serve: read latency"),
    "throughput_per_s": ("1/s", "higher", 0.25,
                         "ingest: backlog events ingested per second; serve: reads per second"),
    "peak_rss_mb": ("MB", "lower", 0.2, "driver JVM plus Python high-water resident memory"),
}

PHASE_FIELDS = (
    ("trigger_ms", "ms"),
    ("add_batch_ms", "ms"),
    ("wal_commit_ms", "ms"),
    ("commit_offsets_ms", "ms"),
    ("query_planning_ms", "ms"),
    ("latest_offset_ms", "ms"),
    ("get_batch_ms", "ms"),
    ("jobs_per_batch", "count"),
    ("task_s_per_batch", "s"),
)
STATE_FIELDS = (
    ("state_commit_ms", "ms"),
    ("state_rows", "count"),
    ("state_memory_bytes", "bytes"),
)


def _per_layer() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, workload, end-to-end metric it moves)."""
    rows = [
        ("session.build_s", "s", "lower", "ingest,serve", "setup_s"),
        ("setup.warmup_s", "s", "lower", "ingest,serve", "setup_s"),
    ]
    moves = {"backlog": "throughput_per_s", "live": "op_p50_ms,op_p90_ms"}
    for phase in ("backlog", "live"):
        for query in ("raw", "agg"):
            fields = PHASE_FIELDS + (STATE_FIELDS if query == "agg" else ())
            for field, unit in fields:
                rows.append(
                    (f"pipeline.{phase}.{query}.{field}", unit, "lower", "ingest", moves[phase])
                )
    rows += [
        # backlog call wall time outside every trigger: query start and stop
        ("pipeline.backlog.start_stop_ms", "ms", "lower", "ingest", "throughput_per_s"),
        ("sinks.files", "count", "lower", "serve,ingest", "op_p50_ms"),
        ("sinks.bytes", "bytes", "lower", "serve,ingest", "op_p50_ms"),
        ("sinks.epochs", "count", "lower", "serve,ingest", "op_p50_ms"),
        ("api.read_construct_ms_p50", "ms", "lower", "serve", "op_p50_ms"),
        ("api.read_collect_ms_p50", "ms", "lower", "serve", "op_p50_ms"),
        ("api.read_no_job_ms_p50", "ms", "lower", "serve", "op_p50_ms"),
        ("api.read_jobs_per_read", "count", "lower", "serve", "op_p50_ms"),
        ("api.read_shuffle_bytes_per_read", "bytes", "lower", "serve", "op_p90_ms"),
        ("trace.reconcile_err", "share", "lower", "ingest,serve", "none"),
        # the run's calibration median: raw time = end-to-end time x this / 100 ms
        ("host.calibration_ms", "ms", "lower", "ingest,serve", "none"),
    ]
    for name, (unit, better, _, _) in END_TO_END.items():
        rows.append((f"traced.{name}", unit, better, "ingest,serve", name))
    return rows


PER_LAYER = _per_layer()


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound, _) in END_TO_END.items()
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
