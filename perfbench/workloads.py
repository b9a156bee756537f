"""The benchmark's workloads and the harness they share.

``ingest``: two ``IoTEngine.ingest_stream`` calls, each on a fresh
warehouse: a backlog of a few large files (per-row decode, aggregation
and sink-write costs dominate) and a live phase of one small file per
trigger (fixed per-batch costs dominate).  Closed loop: each bounded
``availableNow`` replay starts a batch only when the previous one ended.

``serve``: one closed-loop client issuing seeded reads for ``--seconds``
against a warehouse built during set-up by a multi-epoch ingest and not
compacted, so every read pays the last-write-wins reconcile.
"""

from __future__ import annotations

import calendar
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
import host
from catalog import END_TO_END, PER_LAYER, PHASE_FIELDS, STATE_FIELDS
from tracing import (ProgressListener, Tracer, phase_gap, read_event_logs, span_layers,
                     trigger_intervals, union_s)

from cassandra_iot_pipeline_spark.api import IoTEngine
from cassandra_iot_pipeline_spark.session import build_session

# one live file per 10 s trigger of the reference's aggregation query
LIVE_EVENTS_PER_FILE = 1_000
LIVE_FILES_PER_SECOND = 2 / 3
# set-up runs one small call of each phase's shape, so the timed calls
# do not pay the JVM's first compilation of either path
WARMUP_BACKLOG = gen.StreamSpec(n_files=1, events_per_file=100_000)
WARMUP_LIVE = gen.StreamSpec(n_files=2, events_per_file=LIVE_EVENTS_PER_FILE)
BACKLOG = gen.StreamSpec(n_files=3, events_per_file=100_000)  # a 50-minute outage
SERVE_WAREHOUSE = gen.StreamSpec(n_files=3, events_per_file=10_000)
READ_KINDS = ("latest", "hourly", "range")
READ_MIX = ("latest", "hourly", "latest", "range")  # 50% / 25% / 25%, cycled
LATEST_LIMIT = 100
# the first ~30 reads of a fresh JVM run 1.5x slower than later ones;
# the calibration warm-up that follows them warms the same Spark paths
WARMUP_READS = 6 * len(READ_MIX)
# a traced run whose layers miss more than this share of their total fails
RECONCILE_LIMIT = 0.05
# calibration jobs: run and dropped after set-up (their time still falls
# for ~10 jobs), then taken around each ingest call and per cycle of reads
CAL_WARMUP = 12
CAL_PER_CALL = 3
# how each end-to-end metric scales with host speed: times by the
# calibration scale, rates by its inverse, memory not at all
SCALING = {"setup_s": 1, "op_p50_ms": 1, "op_p90_ms": 1, "throughput_per_s": -1,
           "peak_rss_mb": 0}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    ordered = sorted(values)
    rank = int(np.ceil(len(ordered) * q / 100.0))
    return ordered[max(rank, 1) - 1]


class Bench:
    """One benchmark process: session lifecycle, tracing, host context."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.traced = args.trace == 1
        self.tracer = Tracer(self.traced, run_id=f"{args.workload}-{args.seed}")
        self.listener = ProgressListener() if self.traced else None
        self.event_log_dir = os.path.join(work, "eventlog")
        tmp = os.path.join(work, "tmp")
        self.conf = {
            "spark.local.dir": tmp,
            # a fixed, pre-touched heap keeps the resident high-water mark
            # from depending on when the collector happened to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(self.event_log_dir, exist_ok=True)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": self.event_log_dir,
                }
            )
        self.spark = None
        self.jvm = None
        self.cal = None
        self.steal = host.StealMeter()
        self.cpu = host.CpuMeter()
        self.phases: dict[str, float] = {}
        self._last = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark as ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = now - self._last
        self._last = now

    def set_up(self, warmup):
        """A cold set-up, as a fresh start of the program pays it: launch
        the JVM, build the session, run ``warmup``.  Returns the warm-up's
        result and the set-up times."""
        self.mark("inputs")
        t0 = time.perf_counter()
        with self.tracer.span("build_session"):
            self.spark = build_session(extra_conf=self.conf)
        t1 = time.perf_counter()
        self.tracer.bind(self.spark)
        with self.tracer.span("warmup"):
            state = warmup(self.spark, os.path.join(self.work, "setup"))
        t2 = time.perf_counter()
        self.jvm = host.jvm_pid()
        if self.listener is not None:
            self.spark.streams.addListener(self.listener)
        self.cal = host.Calibration(self.spark)
        self.calibrate(CAL_WARMUP)
        self.cal.samples_ms.clear()
        self.mark("setup")
        return state, {"setup_s": t2 - t0, "session.build_s": t1 - t0, "setup.warmup_s": t2 - t1}

    def calibrate(self, n: int) -> float:
        """Run ``n`` calibration jobs; returns the seconds they took."""
        t0 = time.perf_counter()
        with self.tracer.span("calibrate"):
            self.cal.sample(n)
        return time.perf_counter() - t0

    def normalize(self, raw: dict) -> dict:
        """The end-to-end metrics scaled to the reference host."""
        scale = self.cal.scale()
        return {n: v * scale ** SCALING[n] for n, v in raw.items()}

    def stop_session(self) -> None:
        """Stop Spark, which also completes the event log."""
        self.tracer.bind(None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        pids = host.descendants(os.getpid())
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=120)
        host.wait_gone(pids, timeout_s=60)

    def host_context(self, steal_pct: float, cpu_probe: float) -> dict:
        n = host.cores()
        return {"cores": n, "master": f"local[{n}]", "steal_pct": steal_pct,
                "cpu_probe_s": cpu_probe,
                "calibration_ms": statistics.median(self.cal.samples_ms)}


def sink_layout(warehouses: list[str]) -> dict:
    """Files, bytes and distinct epochs over every table of the given
    warehouses, read from the files on disk."""
    files = nbytes = epochs = 0
    for wh in warehouses:
        for table in ("sensor_events", "hourly_aggregates"):
            path = os.path.join(wh, table)
            parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
            files += len(parts)
            nbytes += sum(os.path.getsize(os.path.join(path, f)) for f in parts)
            column = pq.read_table(path, columns=["__epoch"]).column("__epoch")
            epochs += len(column.unique())
    return {"sinks.files": files, "sinks.bytes": nbytes, "sinks.epochs": epochs}


UNITS = {name: spec[0] for name, spec in END_TO_END.items()}
UNITS.update({row[0]: row[1] for row in PER_LAYER})


def finish(bench: Bench, raw: dict, layers: dict, attempted: int, failed: int,
           host_ctx: dict, detail: dict) -> dict:
    """The run's result: the end-to-end metrics, ``raw`` scaled to the
    reference host, or in a traced run the per-layer ones (the traced
    run's own end-to-end values as ``traced.*``, for the tracing
    overhead)."""
    e2e = bench.normalize(raw)
    layers = dict(layers, **{"host.calibration_ms": host_ctx["calibration_ms"]})
    if bench.traced:
        values = dict(layers)
        values.update({f"traced.{n}": v for n, v in e2e.items()})
        names = [row[0] for row in PER_LAYER]
    else:
        values, names = e2e, list(END_TO_END)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": UNITS[n]} for n in names},
        "host": host_ctx,
        "detail": dict(detail, phases_s=bench.phases, raw=raw,
                       calibration_ms=bench.cal.samples_ms),
        "spans": bench.tracer.to_json(),
    }


# --- ingest ------------------------------------------------------------------


DURATION_KEYS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}


def _progress_layers(batches: dict[tuple[str, str], list[dict]],
                     job_stats: dict[tuple[str, str], list]) -> dict:
    """Per phase and query: per-batch p50 of each progress phase, final
    state size, and jobs and task seconds per batch."""
    out = {}
    for phase in ("backlog", "live"):
        for kind in ("raw", "agg"):
            rows = batches.get((phase, kind), [])
            fields = PHASE_FIELDS + (STATE_FIELDS if kind == "agg" else ())
            n = len(rows)
            js = job_stats.get((phase, kind), [])
            if not rows:
                out.update({f"pipeline.{phase}.{kind}.{f}": 0 for f, _ in fields})
                continue

            def state(key, batch):
                return sum(s.get(key, 0) for s in batch["stateOperators"])

            values = {f: statistics.median(r["durationMs"].get(k, 0) for r in rows)
                      for f, k in DURATION_KEYS.items()}
            values.update(
                jobs_per_batch=len(js) / n,
                task_s_per_batch=sum(j.task_s for j in js) / n,
                state_commit_ms=statistics.median(state("commitTimeMs", r) for r in rows),
                state_rows=state("numRowsTotal", rows[-1]),
                state_memory_bytes=state("memoryUsedBytes", rows[-1]),
            )
            out.update({f"pipeline.{phase}.{kind}.{f}": values[f] for f, _ in fields})
    return out


def ingest_layers(bench: Bench, calls: list) -> dict:
    """The traced ingest's layers: progress phases per phase and query,
    the backlog calls' mean start/stop time (wall time outside every
    trigger of either query), and ``trace.reconcile_err``, the share of
    trigger time the reported phases do not account for."""
    listener = bench.listener
    listener.wait_for(sum(len(q) for c in calls for q in c[2]["progress"].values()))
    bench.stop_session()
    jobs = read_event_logs(bench.event_log_dir)
    phase_of_span = {c[4].id: c[0] for c in calls}
    batches: dict[tuple[str, str], list[dict]] = {}
    kind_of_query: dict[str, tuple[str, str]] = {}
    for p in listener.progress:
        phase = phase_of_span.get(listener.labels.get(p["id"]))
        if phase is not None:
            kind_of_query[p["id"]] = (phase, "agg" if p.get("stateOperators") else "raw")
            batches.setdefault(kind_of_query[p["id"]], []).append(p)
    job_stats: dict[tuple[str, str], list] = {}
    for j in jobs:
        if j.query_id in kind_of_query:
            job_stats.setdefault(kind_of_query[j.query_id], []).append(j)
    layers = _progress_layers(batches, job_stats)
    progress = batches.get(("backlog", "raw"), []) + batches.get(("backlog", "agg"), [])
    outside = [span.wall - union_s(trigger_intervals(progress), span.start, span.end)
               for phase, _, _, _, span in calls if phase == "backlog"]
    layers["pipeline.backlog.start_stop_ms"] = 1000.0 * statistics.mean(outside) if outside else 0.0
    layers["trace.reconcile_err"] = phase_gap([p for rows in batches.values() for p in rows])
    return layers


def live_batch_ms(result: dict) -> list[float]:
    """Per live batch, the larger trigger time of the two queries: the
    time until both tables landed that file."""
    by_batch: dict[int, float] = {}
    for rows in result["progress"].values():
        for r in rows:
            by_batch[r["batch_id"]] = max(by_batch.get(r["batch_id"], 0), r["trigger_ms"])
    return list(by_batch.values())


def run_ingest(bench: Bench) -> dict:
    args = bench.args
    live = gen.StreamSpec(
        n_files=max(10, round(LIVE_FILES_PER_SECOND * args.seconds)),
        events_per_file=LIVE_EVENTS_PER_FILE,
    )
    specs = {"warmup_backlog": WARMUP_BACKLOG, "warmup_live": WARMUP_LIVE,
             "backlog": BACKLOG, "live": live}
    events, inputs = {}, {}
    for stream, (name, spec) in enumerate(specs.items()):
        events[name] = gen.make_events(args.seed, stream, spec)
        inputs[name] = os.path.join(bench.work, "in", name)
        gen.write_stream(events[name], spec, inputs[name])

    def warmup(spark, wh):
        IoTEngine(spark, wh + "-backlog").ingest_stream(
            inputs["warmup_backlog"], max_files_per_trigger=WARMUP_BACKLOG.n_files)
        IoTEngine(spark, wh + "-live").ingest_stream(inputs["warmup_live"], max_files_per_trigger=1)

    _, setup = bench.set_up(warmup)
    cpu_probe = host.cpu_probe_s()
    tracer, spark = bench.tracer, bench.spark
    calls = []  # (phase, engine, ingest_stream result, wall seconds, span)
    cpu_s = []  # (phase, CPU seconds of the call)
    problems = []  # per failed call or check: its problems
    # one 2-4 s backlog call alone spreads 15-20% between runs; two, on
    # either side of the live call, also average over the host's load
    plan = [("backlog", BACKLOG.n_files), ("live", 1), ("backlog", BACKLOG.n_files)]
    bench.steal.start()
    with tracer.span("timed"):
        for i, (phase, per_trigger) in enumerate(plan):
            bench.calibrate(CAL_PER_CALL)
            engine = IoTEngine(spark, os.path.join(bench.work, "wh", f"{i}-{phase}"))
            with tracer.span("ingest_stream", phase=phase) as span:
                if bench.listener is not None:
                    bench.listener.label = span.id
                t0 = time.perf_counter()
                bench.cpu.start()
                try:
                    res = engine.ingest_stream(inputs[phase], max_files_per_trigger=per_trigger)
                except Exception as exc:  # noqa: BLE001 - a failed call counts, the run goes on
                    problems.append([f"{phase}: {exc!r}"])
                    continue
                wall = time.perf_counter() - t0
                cpu_s.append((phase, bench.cpu.stop()))
            calls.append((phase, engine, res, wall, span))
        bench.calibrate(CAL_PER_CALL)
    steal_pct = bench.steal.stop()
    bench.mark("timed")

    for phase, engine, *_ in calls:
        want = gen.expected_hourly(events[phase])
        try:
            found = checks.check_counts(
                engine.table_counts(),
                {"sensor_events": specs[phase].n_events, "hourly_aggregates": len(want)},
            )
            found += checks.check_hourly(engine.hourly().toPandas(), want)
        except Exception as exc:  # noqa: BLE001 - a failed check counts as a wrong answer
            found = [repr(exc)]
        if found:
            problems.append([f"{phase}: {p}" for p in found])

    backlog_s = [c[3] for c in calls if c[0] == "backlog"]
    triggers = [ms for c in calls if c[0] == "live" for ms in live_batch_ms(c[2])]
    raw = {
        "setup_s": setup["setup_s"],
        "op_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "op_p90_ms": percentile(triggers, 90) if triggers else 0.0,
        "throughput_per_s": len(backlog_s) * BACKLOG.n_events / sum(backlog_s) if backlog_s else 0.0,
        "peak_rss_mb": host.peak_rss_mb(bench.jvm),
    }
    attempted = len(plan)
    layers = {}
    if bench.traced:
        layers = ingest_layers(bench, calls)
        layers.update({n: 0 for n in _layer_names("api.")})
        attempted += 1
        problems += _reconcile_problem(layers)
    layers.update(sink_layout([c[1].warehouse_dir for c in calls]))
    layers.update({k: setup[k] for k in ("session.build_s", "setup.warmup_s")})
    bench.mark("checks")
    return finish(
        bench, raw, layers, attempted=attempted, failed=len(problems),
        host_ctx=bench.host_context(steal_pct, cpu_probe),
        detail={
            "setup_s": setup,
            "problems": problems,
            "live_batch_samples": len(triggers),
            "wall_s": [(c[0], c[3]) for c in calls],
            "cpu_s": cpu_s,
            "progress": [(c[0], c[2]["progress"]) for c in calls],
        },
    )


def _reconcile_problem(layers: dict) -> list[list[str]]:
    """The traced run's layer accounting, checked as one operation."""
    err = layers["trace.reconcile_err"]
    if err <= RECONCILE_LIMIT:
        return []
    return [[f"trace: layers miss {err:.1%} of their total, limit {RECONCILE_LIMIT:.0%}"]]


# --- serve -------------------------------------------------------------------


def read_plan(seed: int, events, n: int) -> list[tuple]:
    """Seeded requests (kind, device, start_bucket, end_bucket).  Kinds
    cycle through ``READ_MIX`` so every run has the same mix; the device
    is drawn from the events, so it follows their popularity."""
    rng = np.random.default_rng([seed, 99])
    rows = rng.integers(0, len(events), size=n)
    devices = events["user_id"].to_numpy()[rows]
    hours = (events["ts"].to_numpy()[rows] // gen.HOUR_US) * 3600
    spans = rng.integers(1, 12, size=n) * 3600
    return [
        (READ_MIX[i % len(READ_MIX)], int(d), int(h), int(h + s))
        for i, (d, h, s) in enumerate(zip(devices, hours, spans))
    ]


def issue_read(engine: IoTEngine, tracer: Tracer, request):
    kind, device, start, end = request
    with tracer.span("construct", kind=kind):
        if kind == "latest":
            df = engine.latest_events(device, LATEST_LIMIT)
        elif kind == "hourly":
            df = engine.hourly_aggregates(device)
        else:
            df = engine.device_hourly_range(device, start, end)
    with tracer.span("collect", kind=kind):
        return df.collect()


def _ts_us(dt) -> int:
    return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond


def check_read(request, rows, events, hourly) -> list[str]:
    kind, device, start, end = request
    if kind == "latest":
        got = [(r.event_id, _ts_us(r.ts), r.user_id, r.event_type, r.value) for r in rows]
        return checks.compare_rows(got, gen.latest_events(events, device, LATEST_LIMIT),
                                   ordered=True)
    got = [tuple(r) for r in rows]
    mine = hourly[hourly["device_id"] == device]
    if kind == "hourly":
        want = gen.hourly_rows(mine.sort_values("hour_bucket", ascending=False))
        return checks.compare_rows(got, want, ordered=True)
    mine = mine[(mine["hour_bucket"] >= start) & (mine["hour_bucket"] <= end)]
    return checks.compare_rows(got, gen.hourly_rows(mine), ordered=False)


def serve_layers(bench: Bench, reads: list) -> dict:
    """The traced serve's ``api.*`` layers over the spans of the
    successful ``reads``, and ``trace.reconcile_err``: the share of the
    reads' summed wall time that their construct and collect layers do
    not account for (sums, because p50s of parts need not add up to
    the p50 of the whole)."""
    bench.stop_session()
    if not reads:
        return {n: 0 for n in _layer_names("api.")} | {"trace.reconcile_err": 0.0}
    jobs = read_event_logs(bench.event_log_dir)
    by_group = {bench.tracer.group_id(s.id): s.id for s in bench.tracer.spans}
    jobs_by_span: dict[int, list] = {}
    for j in jobs:
        if j.group in by_group:
            jobs_by_span.setdefault(by_group[j.group], []).append(j)
    per_span = span_layers(bench.tracer.spans, jobs_by_span)
    wall = {(s.parent, s.name): s.wall for s in bench.tracer.spans}

    def p50_ms(values):
        return 1000.0 * statistics.median(values)

    construct = [wall[(s.id, "construct")] for s in reads]
    collect = [wall[(s.id, "collect")] for s in reads]
    read = sum(s.wall for s in reads)
    layer = [per_span[s.id] for s in reads]
    return {
        "trace.reconcile_err": abs(sum(construct) + sum(collect) - read) / read,
        "api.read_construct_ms_p50": p50_ms(construct),
        "api.read_collect_ms_p50": p50_ms(collect),
        "api.read_no_job_ms_p50": p50_ms(r["no_job_s"] for r in layer),
        "api.read_jobs_per_read": statistics.mean(r["jobs"] for r in layer),
        "api.read_shuffle_bytes_per_read": statistics.mean(r["shuffle_bytes"] for r in layer),
    }


def run_serve(bench: Bench) -> dict:
    args = bench.args
    spec = SERVE_WAREHOUSE
    events = gen.make_events(args.seed, 0, spec)
    staged = os.path.join(bench.work, "in", "serve")
    gen.write_stream(events, spec, staged)
    plan = read_plan(args.seed, events, 20_000)
    warm_requests = read_plan(args.seed + 1, events, WARMUP_READS)

    def warmup(spark, wh):
        engine = IoTEngine(spark, wh)
        engine.ingest_stream(staged, max_files_per_trigger=1)
        for request in warm_requests:
            issue_read(engine, Tracer(False, ""), request)
        return engine

    engine, setup = bench.set_up(warmup)
    cpu_probe = host.cpu_probe_s()
    tracer = bench.tracer
    samples = []  # (request, latency_ms, rows or exception, span)
    cal_s = 0.0
    bench.steal.start()
    bench.cpu.start()
    with tracer.span("timed"):
        start = time.perf_counter()
        deadline = start + args.seconds
        for request in plan:
            if time.perf_counter() >= deadline:
                break
            if len(samples) % len(READ_MIX) == 0:
                cal_s += bench.calibrate(1)
            with tracer.span("read", kind=request[0]) as span:
                t0 = time.perf_counter()
                try:
                    rows = issue_read(engine, tracer, request)
                except Exception as exc:  # noqa: BLE001 - a failed read counts, the loop goes on
                    rows = exc
                samples.append((request, (time.perf_counter() - t0) * 1000.0, rows, span))
    steal_pct = bench.steal.stop()
    cpu_s = bench.cpu.stop()
    bench.mark("timed")
    wall_s = time.perf_counter() - start - cal_s

    hourly = gen.expected_hourly(events)
    failed, problems = 0, []
    for request, _, rows, _ in samples:
        try:
            found = [repr(rows)] if isinstance(rows, Exception) else check_read(
                request, rows, events, hourly)
        except Exception as exc:  # noqa: BLE001 - a failed check counts as a wrong answer
            found = [repr(exc)]
        if found:
            failed += 1
            problems.append((request, found))
    ok = [lat for _, lat, rows, _ in samples if not isinstance(rows, Exception)]
    raw = {
        "setup_s": setup["setup_s"],
        "op_p50_ms": statistics.median(ok) if ok else 0.0,
        "op_p90_ms": percentile(ok, 90) if ok else 0.0,
        "throughput_per_s": len(samples) / wall_s,
        "peak_rss_mb": host.peak_rss_mb(bench.jvm),
    }
    attempted = len(samples)
    layers = {}
    if bench.traced:
        layers = {n: 0 for n in _layer_names("pipeline.")}
        layers.update(serve_layers(bench, [s for _, _, rows, s in samples
                                           if not isinstance(rows, Exception)]))
        attempted += 1
        found = _reconcile_problem(layers)
        failed += len(found)
        problems += found
    layers.update(sink_layout([engine.warehouse_dir]))
    layers.update({k: setup[k] for k in ("session.build_s", "setup.warmup_s")})
    bench.mark("checks")
    return finish(
        bench, raw, layers, attempted=attempted, failed=failed,
        host_ctx=bench.host_context(steal_pct, cpu_probe),
        detail={
            "setup_s": setup,
            "problems": problems[:20],
            "reads": len(samples),
            "cpu_s": cpu_s,  # the timed region's, calibration jobs included
            "latency_ms": [(r[0], lat) for r, lat, _, _ in samples],
            "latency_ms_p50": {kind: statistics.median(
                [lat for r, lat, _, _ in samples if r[0] == kind] or [0])
                for kind in READ_KINDS},
        },
    )


def _layer_names(prefix: str) -> list[str]:
    """Per-layer metrics of a layer the workload bypasses (reported 0)."""
    return [row[0] for row in PER_LAYER if row[0].startswith(prefix)]


WORKLOADS = {"ingest": run_ingest, "serve": run_serve}
