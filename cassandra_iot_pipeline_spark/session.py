"""SparkSession factory.

The reference pins ``spark.sql.shuffle.partitions=3`` as a magic constant
(reference: iot-cassandra-pipeline/src/spark_consumer.py:71). We instead
enable AQE so the shuffle partition count adapts at runtime -- the right
behavior both at local test scale and on a 1000-executor cluster.

Scale posture (100 TB): every config here is scale-free. AQE coalesces
small shuffle partitions and splits skewed ones; the static
``shuffle.partitions`` value is only the *initial* partition count that
AQE adjusts from. Session timezone is pinned to UTC so event-time window
boundaries are deterministic and match the ANSI-SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory() -> str:
    """48g, or half the host's physical memory when that is less: one
    local-mode JVM holds the whole engine, and a heap sized past the
    host lets it grow until the kernel kills it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48, phys // 2 // 2**30))}g"


def build_session(
    app_name: str = "cassandra-iot-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Parameters are only applied when a new session is created; an
    existing active session is returned as-is (Spark semantics).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    bloom_bits = os.environ.get("SPARK_GRAFT_BLOOM_MAX_BITS", "1073741824")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime re-planning (partition coalescing, skew-join
        # splitting, dynamic join-strategy switch). Replaces the
        # reference's hard-coded shuffle parallelism.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic event-time semantics + oracle comparability.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas_udf / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime Bloom-filter join pre-filtering (guide §3.2,
        # SPARK-32268): when a shuffle join's creation side carries a
        # selective filter, inject might_contain(bloom_filter_agg(key))
        # into the big side's scan so non-matching rows drop BEFORE the
        # exchange. Inert at fixture scale by construction — injection
        # additionally requires a shuffle join and an application-side
        # scan over applicationSideScanSizeThreshold (10 GB default,
        # deliberately untouched), and every sf0.1 join is broadcast —
        # so local plans and bench are byte-identical. At 100 TB the
        # TPC joins become shuffle joins and the defaults are wrong in
        # two places, both env-overridable: the creation side (e.g.
        # shipping_priority's date-filtered orders, ~18 GB projected at
        # 100 TB) far exceeds the 10 MB creationSideThreshold, and 1 M
        # expectedNumItems/4 M maxNumItems would saturate the filter
        # into uselessness against ~1.5 B creation-side keys.
        # tools/r13_bloom_scale_demo.py captures the injected plan with
        # broadcast disabled (scale-mode stand-in) as evidence.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            os.environ.get("SPARK_GRAFT_BLOOM_CREATION_SIDE", "32GB"),
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems",
            os.environ.get("SPARK_GRAFT_BLOOM_EXPECTED_ITEMS", "100000000"),
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
            os.environ.get("SPARK_GRAFT_BLOOM_MAX_ITEMS", "1000000000"),
        )
        # default 64 Mbit (8 MB) saturates against >~10 M keys; 1 Gbit
        # (128 MB broadcast) holds ~1 % fpp at the 100 M expected items
        # above — the guide's ~9.6 bits/item costing. numBits is the
        # size an injected filter actually gets when the creation side
        # has no row count (file scans without CBO stats), and its
        # 8 Mbit default is far under 1 bit/item, so it takes the same
        # value; maxNumBits only caps it.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", bloom_bits
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.numBits", bloom_bits
        )
        # The driver-generated fixtures store TIMESTAMP(NANOS), which
        # Spark's parquet reader rejects by default; read as epoch-nanos
        # long and convert in the catalog (see catalog.load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # RocksDB state store: streaming state lives off-heap and spills
        # to local disk, so stateful operators survive state >> executor
        # heap (the 100 TB posture; the default HDFSBackedStateStore
        # keeps every version's state in JVM memory). Changelog
        # checkpointing uploads per-batch deltas instead of full
        # snapshots. Measured on the sf0.1 replay: throughput parity
        # with the in-heap store warm (46.3k vs 43.7k ev/s), with none
        # of its state-size ceiling.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # Checkpoint writes go through Hadoop's FileSystem API, not
        # FileContext (Spark's default manager). Without native Hadoop
        # (NativeIO unavailable), a FileContext rename asks for the link
        # status of its source and its destination, and each ask spawns
        # a `readlink` process: counted over 12 live 1000-event ingest
        # batches, 288 `readlink` spawns under the default manager and 0
        # under this one (the 72 `chmod` spawns of file creates are the
        # same under both). Both managers write the same files, `.crc`
        # included, so a checkpoint written under one resumes under the
        # other. Neither renames atomically against a second writer:
        # the default checks the destination inside `renameInternal`,
        # this one with `exists` before `rename`, and Spark's one active
        # run per checkpoint guards both. That holds on the local file
        # system the engine's checkpoints live on (the ingest reads its
        # offset log with `open`); a checkpoint on HDFS or an object
        # store would need this choice revisited.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
