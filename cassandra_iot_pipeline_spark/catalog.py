"""Fixture-table catalog.

Maps logical table names to parquet files under a scale-factor directory
(``/root/testdata/sf{0.001,0.01,0.1}``) and normalizes physical quirks in
the ``events.ts`` column. Driver-generated fixtures have stored it two
ways across rounds: parquet TIMESTAMP(NANOS) (read as epoch-nanos
LongType via ``spark.sql.legacy.parquet.nanosAsLong``) and plain
TIMESTAMP(MICROS) without a UTC flag (read as TIMESTAMP_NTZ). Either way
we normalize to a microsecond TimestampType driven by the *observed* read
schema, so every downstream operator sees the same plain timestamp that
DuckDB sees when it reads the same file.

The ``events`` fixture stands in for the reference's sensor stream
(reference: iot-cassandra-pipeline/schemas/SensorEvent.avsc:6-39):
``user_id`` plays ``device_id``, ``ts`` plays event time, ``value`` plays
``temperature``. The mapping is recorded in FIXTURES.md §B1.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    a cardinality hint source that costs no Spark job (a few KB of
    footer per file, read driver-side). Used to size data-bearing-width
    exchange pins (e.g. embedding_near_dups' block exchange); exactness
    never affects results, only stage width, so ``None`` on any failure
    is always a safe answer (callers fall back to AQE's sizing). A
    directory dataset counts every part file under it, ``key=value``
    partition directories included; like Spark, names starting with
    ``_`` or ``.`` are skipped."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    hidden = ("_", ".")
    try:
        if not os.path.isdir(path):
            return pq.ParquetFile(path).metadata.num_rows
        rows = 0
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(hidden)]
            rows += sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in files
                if f.endswith(".parquet") and not f.startswith(hidden)
            )
        return rows
    except Exception:
        return None


def ensure_session_configs(spark: SparkSession) -> None:
    """Make any SparkSession able to run this engine correctly.

    The driver harness builds its own session, so the configs this
    engine depends on must be applied at runtime (all of these are
    runtime-settable, verified on PySpark 4.1):

    - ``nanosAsLong``: lets the parquet reader accept TIMESTAMP(NANOS)
      fixtures (older driver rounds; a no-op for micros fixtures);
    - UTC session timezone: hour-bucket boundaries and epoch conversions
      must be timezone-invariant to match the ANSI-SQL oracle;
    - AQE on (runtime re-planning; perf only, not correctness).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            # untouched default: size for local mode (200 is wrong at
            # both local and fixture scale; AQE coalesces from here)
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing nano-timestamp columns.

    All normalization is expressed as Catalyst columns (no UDFs), so
    column pruning and predicate pushdown still reach the parquet scan.
    """
    ensure_session_configs(spark)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type == "long":
            # TIMESTAMP(NANOS) fixture read as epoch-nanos long ->
            # microsecond timestamp (matches DuckDB, which truncates to
            # micros). Integer DIV keeps this exact — `/ 1000` would go
            # through double and round the low bits of epoch-nanos.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) fixture: same
            # wall-clock instant under the UTC session timezone; cast so
            # the whole engine (incl. streaming watermarks) sees one
            # timestamp type regardless of fixture vintage.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
