"""Host context recorded next to every run's metrics: cores used, CPU
steal over the timed region, one fixed-work CPU probe, the host's speed
as a calibration job sees it, and memory high-water marks."""

from __future__ import annotations

import hashlib
import os
import resource
import statistics
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


class StealMeter:
    """Share of CPU time stolen by the hypervisor between start() and
    stop(), in percent."""

    def start(self) -> None:
        self._t0 = _cpu_ticks()

    def stop(self) -> float:
        steal, total = _cpu_ticks()
        d_total = total - self._t0[1]
        return 100.0 * (steal - self._t0[0]) / d_total if d_total else 0.0


def _cpu_ticks_of(pid: int) -> int:
    """User plus system clock ticks of one process, all its threads."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(fields[11]) + int(fields[12])


class CpuMeter:
    """CPU seconds that this process and its descendants (the JVM, the
    Python workers) spent between start() and stop().  Time the
    hypervisor steals is not in it."""

    def _read(self) -> dict[int, int]:
        return {pid: _cpu_ticks_of(pid) for pid in [os.getpid()] + descendants(os.getpid())}

    def start(self) -> None:
        self._t0 = self._read()

    def stop(self) -> float:
        ticks = sum(t - self._t0.get(pid, 0) for pid, t in self._read().items())
        return ticks / os.sysconf("SC_CLK_TCK")


def cpu_probe_s(rounds: int = 3) -> float:
    """Best-of-``rounds`` time to hash 16 MiB with SHA-256 in 64 KiB
    blocks: a fixed amount of single-core work, to compare hosts."""
    block = b"\x5a" * 65536
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(256):
            h.update(block)
        h.digest()
        best = min(best, time.perf_counter() - t0)
    return best


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    task_dir = f"/proc/{pid}/task"
    try:
        for tid in os.listdir(task_dir):
            with open(f"{task_dir}/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo.extend(_children(child))
    return out


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` exists any more (or a zombie)."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def jvm_pid() -> int | None:
    """Process id of the driver JVM: the java process in the subtree of
    this Python process."""
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
        todo.extend(_children(pid))
    return None


def peak_rss_mb(pid: int | None) -> float:
    """High-water resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(pid) if pid else 0
    return (py_kb + jvm_kb) / 1024.0


class Calibration:
    """The host's current speed for Spark work: the wall time of a fixed
    job that runs none of the engine's code, in the benchmark's own JVM.

    A shared host has fast and slow periods of minutes in which every
    timing of the engine moves by 1.5-2x; a run sampling this job
    alongside the engine's calls can report the engine's timings scaled
    to a host on which the job takes ``REFERENCE_MS``.  The job runs in
    its own session with its SQL settings pinned, so a change to the
    engine's session settings does not move it; it shares the
    SparkContext (JVM, task threads) with the engine."""

    REFERENCE_MS = 100.0

    def __init__(self, spark) -> None:
        self.session = spark.newSession()
        self.session.conf.set("spark.sql.shuffle.partitions", str(cores()))
        self.session.conf.set("spark.sql.adaptive.enabled", "true")
        self.samples_ms: list[float] = []

    def sample(self, n: int = 1) -> None:
        from pyspark.sql import functions as F

        for _ in range(n):
            t0 = time.perf_counter()
            (self.session.range(0, 200_000, 1, cores())
             .selectExpr("id % 997 AS k", "id * 7 AS v")
             .filter("v % 3 <> 1")
             .groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c"))
             .orderBy(F.desc("s")).limit(100).collect())
            self.samples_ms.append(1000.0 * (time.perf_counter() - t0))

    def scale(self) -> float:
        """Factor that takes a time measured now to the reference host."""
        return self.REFERENCE_MS / statistics.median(self.samples_ms)
