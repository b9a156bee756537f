"""Benchmark harness — runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized through the noop sink (no driver-side
collect — the timing measures the distributed plan, not Arrow transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from cassandra_iot_pipeline_spark.session import build_session  # noqa: E402

HEADLINE = [
    "funnel",
    "pricing_summary",
    "revenue_by_nation",
    "latest_n_per_device",
    "last_event_per_user_type",
    "event_type_totals",
    "order_fulfillment",
    "top_k_orders",
    "point_lookup",
    "decode_props",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: jvm_agg_50m historical quiet floor is 0.23-0.30 s across driver
#: rounds (BENCH_r11 0.295; r12's contaminated run read 0.765 — 2.6x —
#: and invalidated the whole round-over-round comparison). 1.8x the
#: floor's top end separates every clean window seen so far (<= 0.5)
#: from the contaminated one.
DEGRADED_JVM_AGG_SEC = 0.54
#: the CPU probe alone misses DISK-side contamination (measured r13:
#: back-to-back runs read jvm_agg 0.12-0.16 — quiet — while
#: calib_state_commit degraded 5.2 -> 9.7 and the shuffle/checkpoint-
#: heavy queries regressed 25-90%). Historical state-commit floor:
#: driver r11 3.12 s, builder quiet windows 3.5-4.2 s.
DEGRADED_STATE_COMMIT_SEC = 6.0
#: how long to wait for a contended co-tenant burst to pass before
#: re-probing, and how many times to try before giving up and flagging.
CALIB_RETRY_SLEEP_S = 15
CALIB_MAX_ATTEMPTS = 4


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — the direct measure of
    hypervisor co-tenant interference. Short fixed-work probes can dodge
    steal bursts entirely (measured r13: probes read quiet while a
    sustained 32-core burn showed 13.8% steal and the 32-wide query
    stages ran 1.5-2x slow), so the bench records the steal fraction
    across its own timed region instead of inferring it."""
    parts = open("/proc/stat").readline().split()[1:]
    vals = [int(v) for v in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _jvm_agg_probe(spark) -> float:
    """Fixed 50M-row multi-core JVM aggregation (Spark fixed costs + JVM
    throughput) — the probe that caught the r12 host contamination."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(50_000_000).select(
        F.sum(F.col("id") * 2).alias("s")
    ).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def host_calibration(spark) -> dict[str, float]:
    """Fixed-work reference timings so cross-round comparisons can
    separate engine changes from host-speed changes (measured: the same
    commit's query times vary ~1.5-2x between driver rounds on
    different/noisy hosts). Two probes: a pure-Python arithmetic loop
    (CPU clock) and a fixed 50M-row JVM aggregation (Spark fixed costs +
    JVM throughput). Both are data-independent.

    Self-defense (r12 verdict item #1): the r12 driver run measured the
    jvm_agg probe at 2.6x its floor — multi-core host contamination
    that made 36 untouched queries read as "regressed". When the probe
    reads degraded, wait out the burst and re-probe (up to
    CALIB_MAX_ATTEMPTS), and report the outcome as ``host_degraded`` in
    the JSON line (additive key) so a reader can discount the run
    instead of guessing."""
    t0 = time.perf_counter()
    s = 0
    for i in range(10_000_000):
        s += i
    py_sec = time.perf_counter() - t0

    jvm_sec = min(_jvm_agg_probe(spark), _jvm_agg_probe(spark))
    attempts = 1
    while jvm_sec > DEGRADED_JVM_AGG_SEC and attempts < CALIB_MAX_ATTEMPTS:
        print(
            f"[bench] calibration degraded (jvm_agg {jvm_sec:.3f}s > "
            f"{DEGRADED_JVM_AGG_SEC}); waiting {CALIB_RETRY_SLEEP_S}s "
            "for the host to quiet down",
            file=sys.stderr,
        )
        time.sleep(CALIB_RETRY_SLEEP_S)
        jvm_sec = min(jvm_sec, _jvm_agg_probe(spark), _jvm_agg_probe(spark))
        attempts += 1
    return {
        "calib_python_loop_sec": round(py_sec, 3),
        "calib_jvm_agg_50m_sec": round(jvm_sec, 3),
        "calib_attempts": attempts,
    }


def io_calibration(spark) -> dict[str, float]:
    """I/O-bound calibration probes (r5 verdict item #1): the CPU
    probes above cannot attribute deltas in the PIPELINE number, which
    is disk-bound, so two fixed-work disk probes sit next to them — a
    5M-row parquet write+read and an 8-micro-batch keyed aggregation
    whose cost is state-store commits + checkpoint I/O (the bound of
    the stateful replays). Data-independent (spark.range), fixed
    shuffle width, min-of-2 each (first run pays dir creation / page
    cache cold-start the pipeline numbers don't)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    out: dict[str, float] = {}
    base = tempfile.mkdtemp(prefix="bench_calib_io_")
    frame = spark.range(5_000_000).select(
        "id",
        (F.col("id") % 997).alias("k"),
        F.pmod(F.col("id") * 2654435761, F.lit(1000003)).alias("v"),
    )
    w_secs, r_secs = [], []
    for i in range(2):
        d = f"{base}/pq{i}"
        t0 = time.perf_counter()
        frame.write.mode("overwrite").parquet(d)
        w_secs.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.read.parquet(d).write.format("noop").mode("overwrite").save()
        r_secs.append(time.perf_counter() - t0)
    out["calib_parquet_write_5m_sec"] = round(min(w_secs), 3)
    out["calib_parquet_read_5m_sec"] = round(min(r_secs), 3)

    src = f"{base}/state_src"
    spark.range(200_000).select(
        "id", (F.col("id") % 5000).alias("k")
    ).repartition(8).write.parquet(src)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    s_secs = []
    try:
        for i in range(2):
            t0 = time.perf_counter()
            q = (
                spark.readStream.schema("id BIGINT, k BIGINT")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .groupBy("k")
                .count()
                .writeStream.foreachBatch(
                    lambda df, eid: df.write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                .outputMode("update")
                .option("checkpointLocation", f"{base}/ckpt{i}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            s_secs.append(time.perf_counter() - t0)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    out["calib_state_commit_8batch_sec"] = round(min(s_secs), 3)
    shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session("bench")
    qs = entrymod.queries()
    # headline batch queries first, then EVERY other registered query
    # (including the streaming replays) — bench and registry never
    # diverge: the driver records a time for each CORRECTNESS name.
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]
    # JVM/codegen warmup on the smallest fixture so per-query times
    # measure the plan, not first-run compilation: the first execution
    # of a plan SHAPE in a session pays whole-stage-codegen + JIT
    # (measured 10.3 s cold vs 3.6-4.1 s warm on minhash_lsh_pairs at
    # sf0.1 — a ~2.5x artifact of single-shot timing, and the main
    # source of run-to-run bench variance). Warming each query at
    # sf0.001 compiles every shape once; the timed sf run then measures
    # the plan's data-dependent cost, which is what the round-over-round
    # comparison wants.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.realpath(
        warm_dir
    ) != os.path.realpath(sf_dir):
        for name in names:
            try:
                materialize(qs[name](spark, warm_dir))
            except Exception as exc:  # pragma: no cover - warmup is best-effort
                print(f"[bench] warmup {name} failed: {exc}", file=sys.stderr)
    calib = host_calibration(spark)

    # Two timed passes, report the per-query MIN: this host (a VM on a
    # shared machine) shows 1.5-3x swings on individual heavy queries
    # between back-to-back identical runs (calibration probes stay
    # flat, so it is host noise, not the engine). min-of-2 is the
    # least-noise estimator of the plan's cost and keeps round-over-
    # round comparisons about code, not scheduling luck. EVERY pass is
    # recorded in the JSON (queries_runs) so a per-query delta can be
    # classified host/noise/code without guessing (r5 verdict item #3),
    # and a query whose two passes disagree by >40% gets a third pass —
    # the cheap escalation form of "re-run what looks noisy".
    runs_by_query: dict[str, list[float]] = {n: [] for n in names}
    steal_by_query: dict[str, list[float]] = {n: [] for n in names}
    steal0, total0 = _cpu_jiffies()

    def timed(name: str) -> float:
        s0, j0 = _cpu_jiffies()
        t0 = time.perf_counter()
        materialize(qs[name](spark, sf_dir))
        elapsed = round(time.perf_counter() - t0, 3)
        s1, j1 = _cpu_jiffies()
        runs_by_query[name].append(elapsed)
        steal_by_query[name].append(
            round(100.0 * (s1 - s0) / max(j1 - j0, 1), 2)
        )
        return elapsed

    for _pass in range(2):
        for name in names:
            timed(name)
    for name in names:
        a, b = runs_by_query[name]
        if max(a, b) > 1.4 * min(a, b) and max(a, b) - min(a, b) > 0.2:
            timed(name)
    timings = {n: min(r) for n, r in runs_by_query.items()}
    total = round(sum(timings.values()), 3)
    # steal DURING the pass that produced each query's reported min:
    # the region-average steal dilutes a mid-run burst to invisibility
    # (measured: a 72.7 s run — 25 % over quiet — averaged 2.67 % steal
    # over its region), but a min-pass that itself saw heavy steal
    # means the reported number is contaminated, not just other passes.
    # (on a tie the pass with the lower steal is the one credited)
    min_pass_steal = {
        n: min(zip(runs_by_query[n], steal_by_query[n]))[1] for n in names
    }
    worst_min_pass_steal = max(min_pass_steal.values())

    # streaming-pipeline ingest throughput (reference baseline: ~105
    # events/sec sustained, BASELINE.md) — the ingest query over the
    # micro-batch replay, landing raw rows and hourly partials in
    # PK-upsert tables.
    import tempfile

    from cassandra_iot_pipeline_spark.api import IoTEngine
    from cassandra_iot_pipeline_spark.streaming.staging import stage_events_stream

    staged = stage_events_stream(spark, sf_dir)
    # untimed warm-up pass: the first pipeline execution in a session
    # pays ~5s of codegen initialization (measured 14.4k
    # cold vs 58-69k warm events/s on identical data) — the same
    # plan-shape JIT artifact the query warm-up removes, so the
    # recorded number is steady-state throughput, not first-run cost.
    warm_engine = IoTEngine(spark, tempfile.mkdtemp(prefix="bench_pipewarm_"))
    warm_engine.ingest_stream(staged, max_files_per_trigger=32)
    # median-of-3 with spread (r4 verdict: one contended run made the
    # committed pipeline number unattributable round-over-round; the
    # median is robust to a single noisy run and the spread says how
    # much to trust the delta).
    runs: list[float] = []
    progresses: list[dict] = []
    n_events = 0
    for i in range(3):
        engine = IoTEngine(
            spark, tempfile.mkdtemp(prefix=f"bench_pipeline{i}_")
        )
        t0 = time.perf_counter()
        # each micro-batch pays a fixed cost (its one collect job, the
        # checkpoint's offset and commit logs), so bigger batches are
        # faster with identical results; the current sf0.1 staging is
        # ~30 day files, so 32/trigger is already a single availableNow
        # batch.
        res = engine.ingest_stream(staged, max_files_per_trigger=32)
        pipe_sec = time.perf_counter() - t0
        n_events = engine.table_counts()["sensor_events"]
        runs.append(round(n_events / pipe_sec, 1))
        progresses.append(res["progress"])
    med = sorted(runs)[1]
    # per-micro-batch timings for the MEDIAN run (r5 verdict item #1):
    # which batches, and which phase (addBatch vs state commit), so a
    # round-over-round pipeline delta is attributable to a specific
    # stage instead of one opaque events/s number. The I/O calibration
    # probes (calib_parquet_*/calib_state_commit_*) say how much of any
    # delta is the host's disk, the way calib_jvm_* does for CPU.
    med_progress = progresses[runs.index(med)]
    io_calib = io_calibration(spark)
    # close the contamination window: re-probe AFTER the timed work (the
    # r12 burst hit mid-run, after a clean pre-probe). Degraded on
    # either side flags the whole run.
    jvm_post = round(min(_jvm_agg_probe(spark), _jvm_agg_probe(spark)), 3)
    steal1, total1 = _cpu_jiffies()
    steal_pct = round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 2)
    host_degraded = (
        calib["calib_jvm_agg_50m_sec"] > DEGRADED_JVM_AGG_SEC
        or jvm_post > DEGRADED_JVM_AGG_SEC
        or io_calib["calib_state_commit_8batch_sec"]
        > DEGRADED_STATE_COMMIT_SEC
        or steal_pct > 3.0
        or worst_min_pass_steal > 8.0
    )

    # The driver records only the LAST 2000 chars of bench output
    # (r6 verdict item #3: the r6 JSON overflowed the capture and 17
    # of 50 per-query timings were cut, "parsed": null). So stdout is
    # exactly ONE compact line guaranteed to fit —
    # `python bench.py | tail -c 2000` round-trips through json.loads
    # — and the bulky diagnostics (per-pass runs, per-micro-batch
    # pipeline timings) go to bench_full.json next to this script.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_runs": runs_by_query,
        "sf": sf,
        "pipeline_events_per_sec": med,
        "pipeline_events": n_events,
        "pipeline_sec": round(n_events / med, 3),
        "pipeline_runs_events_per_sec": runs,
        "pipeline_spread_events_per_sec": round(max(runs) - min(runs), 1),
        "pipeline_batches": med_progress,
        **calib,
        **io_calib,
        "calib_jvm_agg_post_sec": jvm_post,
        "steal_pct_timed_region": steal_pct,
        "worst_min_pass_steal_pct": worst_min_pass_steal,
        "steal_by_query": steal_by_query,
        "host_degraded": host_degraded,
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    with open(full_path, "w") as fh:
        json.dump(full, fh, indent=1)
    print(f"[bench] full diagnostics -> {full_path}", file=sys.stderr)

    compact = {k: v for k, v in full.items()
               if k not in ("queries_runs", "pipeline_batches",
                            "steal_by_query")}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1990:  # belt-and-braces: shed precision, then calib
        compact["queries"] = {n: round(t, 2) for n, t in timings.items()}
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1990:
        for k in list(compact):
            if k.startswith("calib_"):
                del compact[k]
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
