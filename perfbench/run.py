#!/usr/bin/env python3
"""Benchmark of the IoT engine as its users see it.

    python3 perfbench/run.py --workload {ingest,serve} --seed N --seconds S --trace {0,1}

Run from the repository root.  The engine is driven only through its
public functions (``build_session``, ``IoTEngine``); every call is timed
from outside, in one process on ``local[<cores>]`` with one client
thread.  Inputs are generated from ``--seed`` by ``gen.py`` and every
output is checked against the answers computed there.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see ``catalog.py``).  The line
before it carries the host context.  A full report, with spans in
traced runs, is written under ``.perfbench/reports/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "serve"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    time.tzset()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec("cassandra_iot_pipeline_spark") is None:
        print(f"perfbench: the engine package is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)  # before the engine import: it reads SPARK_GRAFT_CPUS
    import workloads

    bench = workloads.Bench(args, work)
    try:
        result = workloads.WORKLOADS[args.workload](bench)
    finally:
        bench.close()
        bench.mark("close")
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
    report = os.path.join(
        OUT, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(report, "w") as fh:
        json.dump(result, fh, indent=1, default=str)
    print(json.dumps({"host": result["host"], "report": os.path.relpath(report, ROOT)}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
