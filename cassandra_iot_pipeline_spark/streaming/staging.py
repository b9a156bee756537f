"""Stage fixture tables as time-ordered file sequences for replay.

Spark's file streaming source treats each new file as input; with
``maxFilesPerTrigger=1`` a sequence of day-partitioned files replays the
fixture as deterministic micro-batches in event-time order — the test
stand-in for the reference's Kafka topic (SURVEY §2.A S1: prod uses
``readStream.format("kafka")``; the engine's decode chain is identical
either way).

Files are written one day at a time so their modification times increase
with event time (the file source orders by mtime); day-disjoint batches
mean a 1-minute watermark never drops fixture rows, keeping the
streaming result oracle-comparable to the batch rollup.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table


def stage_events_stream(
    spark: SparkSession, sf_dir: str, base_dir: str = "/tmp/spark_graft_staging"
) -> str:
    """Write the events fixture as one parquet file per event-time day,
    in day order. Idempotent per (sf_dir) — cached by content key, and
    safe under concurrent callers: staging happens in a private temp dir
    that is atomically renamed into place (first writer wins; losers use
    the winner's copy)."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    final = os.path.join(base_dir, f"events_{key}")
    if os.path.exists(os.path.join(final, "_STAGED")):
        return final
    out = f"{final}.tmp-{os.getpid()}"
    done = os.path.join(out, "_STAGED")
    events = load_table(spark, sf_dir, "events")
    os.makedirs(out, exist_ok=True)
    # ONE day-partitioned write (repartition by day -> exactly one file
    # per day directory), instead of one filtered full scan per day
    part_root = os.path.join(out, "_days")
    (
        events.withColumn("d", F.to_date("ts"))
        .repartition(F.col("d"))
        .write.mode("overwrite")
        .partitionBy("d")
        .parquet(part_root)
    )
    # flatten: move each day's part file up with an ordered name + mtime
    # order (the file source orders by modification time)
    import glob
    import shutil
    import time

    day_dirs = sorted(glob.glob(os.path.join(part_root, "d=*")))
    days = [os.path.basename(d).split("=", 1)[1] for d in day_dirs]
    for i, part_dir in enumerate(day_dirs):
        parts = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        assert len(parts) == 1, f"{part_dir}: expected one file, got {parts}"
        dst = os.path.join(out, f"batch_{i:04d}.parquet")
        shutil.move(parts[0], dst)
        ts = time.time() - (len(days) - i)
        os.utime(dst, (ts, ts))
    shutil.rmtree(part_root)
    with open(done, "w") as fh:
        fh.write(",".join(str(d) for d in days))
    try:
        os.rename(out, final)  # atomic publish; fails if a winner exists
    except OSError:
        import shutil

        shutil.rmtree(out, ignore_errors=True)
    return final


def read_staged(
    spark: SparkSession,
    schema: str,
    staged_dir: str,
    max_files_per_trigger: int = 1,
    fmt: str = "parquet",
):
    """A file-source stream over a staged directory: ``schema`` declared
    up front (streaming sources require it), ``max_files_per_trigger``
    files per micro-batch, in modification-time order (file order =
    ingest order)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format(fmt)
        .load(staged_dir)
    )
