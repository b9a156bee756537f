"""Tracing for the benchmark's traced runs.

Three sources, joined after the run:

- spans the benchmark records around each public engine call (name,
  start, end, parent, run id), kept in memory.  Entering a span sets
  the Spark job group to the span's id, so jobs attribute to spans by
  tag, not by time window;
- Spark jobs, stages and tasks from the uncompressed event log;
- full ``StreamingQueryProgress`` events from a Python
  ``StreamingQueryListener``.

``span_layers`` derives each span's self time, job-busy time and
no-job time from them; ``phase_gap`` and ``trigger_intervals``
reconcile the streaming progress phases with trigger and wall time.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

QUERY_ID_KEY = "sql.streaming.queryId"
BATCH_ID_KEY = "streaming.sql.batchId"
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a no-op otherwise."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Tag jobs of this session's context from now on (none if
        ``spark`` is None)."""
        self._sc = spark.sparkContext if self.enabled and spark is not None else None

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty(GROUP_KEY, None)
        else:
            self._sc.setJobGroup(self.group_id(span_id), self.spans[span_id].name)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, time.time(), math.nan, parent, self.run_id, attrs)
        self.spans.append(span)
        self._stack.append(span.id)
        self._set_group(span.id)
        try:
            yield span
        finally:
            span.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class ProgressListener(StreamingQueryListener):
    """Collects every progress event.  ``label`` is the id of the span
    whose queries start next; each query id keeps the label it started
    under (onQueryStarted runs before ``DataStreamWriter.start``
    returns)."""

    def __init__(self) -> None:
        self.label: int | None = None
        self.labels: dict[str, int | None] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.labels[str(event.id)] = self.label

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n_batches: int, timeout_s: float = 30.0) -> None:
        """Block until ``n_batches`` progress events arrived; the
        listener bus delivers them asynchronously."""
        deadline = time.monotonic() + timeout_s
        while len(self.progress) < n_batches and time.monotonic() < deadline:
            time.sleep(0.02)


@dataclass
class Job:
    id: int
    start: float
    end: float
    group: str | None
    query_id: str | None
    batch_id: int | None
    stages: list[int]
    task_s: float = 0.0
    shuffle_write_bytes: int = 0


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs, with task seconds and shuffle bytes written, from every
    uncompressed event log in ``log_dir``.  Times are epoch seconds."""
    jobs: dict[tuple[str, int], Job] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_job: dict[int, Job] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    batch = props.get(BATCH_ID_KEY)
                    job = Job(
                        id=ev["Job ID"],
                        start=ev["Submission Time"] / 1000.0,
                        end=math.nan,
                        group=props.get(GROUP_KEY),
                        query_id=props.get(QUERY_ID_KEY),
                        batch_id=int(batch) if batch is not None else None,
                        stages=list(ev.get("Stage IDs") or []),
                    )
                    jobs[(path, job.id)] = job
                    for sid in job.stages:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((path, ev["Job ID"]))
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    if job is None:
                        continue
                    job.task_s += (metrics.get("Executor Run Time") or 0) / 1000.0
                    shuffle = metrics.get("Shuffle Write Metrics") or {}
                    job.shuffle_write_bytes += shuffle.get("Shuffle Bytes Written") or 0
    return [j for j in jobs.values() if not math.isnan(j.end)]


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def span_layers(spans: list[Span], jobs_by_span: dict[int, list[Job]]) -> dict[int, dict]:
    """Per span: wall, self time (wall not covered by child spans),
    jobs, job-busy time (union of its and its descendants' job
    intervals), no-job time, task seconds and shuffle bytes written."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree_jobs(span: Span) -> list[Job]:
        out = list(jobs_by_span.get(span.id, []))
        for c in children.get(span.id, []):
            out.extend(subtree_jobs(c))
        return out

    layers = {}
    for s in spans:
        jobs = subtree_jobs(s)
        busy = union_s([(j.start, j.end) for j in jobs], s.start, s.end)
        kids = children.get(s.id, [])
        layers[s.id] = {
            "name": s.name,
            "wall_s": s.wall,
            "self_s": s.wall - union_s([(c.start, c.end) for c in kids], s.start, s.end),
            "jobs": len(jobs),
            "job_busy_s": busy,
            "no_job_s": s.wall - busy,
            "task_s": sum(j.task_s for j in jobs),
            "shuffle_bytes": sum(j.shuffle_write_bytes for j in jobs),
        }
    return layers


# the progress phases Spark times inside ``triggerExecution``
PHASE_KEYS = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset",
              "getBatch")


def phase_gap(progress: list[dict]) -> float:
    """Share of the batches' summed ``triggerExecution`` that the summed
    ``PHASE_KEYS`` phases do not account for (0 when they add up)."""
    trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in progress)
    phases = sum(p["durationMs"].get(k, 0) for p in progress for k in PHASE_KEYS)
    return abs(trigger - phases) / trigger if trigger else 0.0


def trigger_intervals(progress: list[dict]) -> list[tuple[float, float]]:
    """(start, end) of each batch's trigger in epoch seconds: the
    progress ``timestamp`` is the trigger start."""
    out = []
    for p in progress:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append((start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0))
    return out
