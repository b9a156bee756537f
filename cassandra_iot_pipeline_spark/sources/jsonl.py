"""JSONL corpus ingestion with a corrupt-record quarantine — the
ingest surface every training-data pipeline starts from (web-scale
corpora ship as JSON-lines; some fraction of lines is always broken).

Contract-first, like the Avro path (sources/avro_wire.py): the caller
declares the schema; the reader NEVER infers (schema inference is a
full extra pass over 100 TB, and a drifted field silently retypes the
whole column). Malformed lines follow one of Spark's three native
modes, wrapped with the missing piece — an auditable quarantine:

- ``read_jsonl(..., mode='permissive')`` keeps every line, parking the
  raw text of broken ones in ``_corrupt`` (NULL for good lines);
- :func:`split_quarantine` separates the two streams — good rows
  (``_corrupt`` dropped) and a quarantine frame carrying the raw line
  (plus the partially-parsed declared columns) for repair/inspection;
- :func:`quarantine_report` is the one-row accounting (rows, bad
  rows, bad fraction) — the curation removal-stats convention;
- :func:`land_jsonl` is the exact one-pass form: parse once, land
  both streams partitioned by the corruption flag, report from the
  landed copy (raw-scan corruption is projection-dependent — the
  module's pinned gotcha #2).

All native Catalyst (the JSON datasource's own parser; no UDFs, no
second pass: the quarantine split is two filters over one cached-or-
recomputed scan, and the report is one aggregation).

Gotcha this module pins in tests: Spark's PERMISSIVE corrupt-record
column is populated only when the line fails to parse as the declared
schema — a MISSING field is a NULL, not a corrupt line. The report
therefore takes optional ``required`` columns whose NULLs count as
defects (declared, not inferred).
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    mode: str = "permissive",
) -> DataFrame:
    """Read JSON-lines under an explicit schema contract.

    ``mode``: ``permissive`` (default — broken lines become rows with
    the raw text in ``_corrupt``), ``dropmalformed`` (broken lines
    vanish silently — quarantine unavailable), or ``failfast``
    (first broken line raises). The ``_corrupt`` column only exists in
    permissive mode."""
    m = mode.upper()
    if m not in ("PERMISSIVE", "DROPMALFORMED", "FAILFAST"):
        raise ValueError(f"read_jsonl: unknown mode {mode!r}")
    full_schema = (
        f"{schema}, {CORRUPT_COL} STRING" if m == "PERMISSIVE" else schema
    )
    return (
        spark.read.schema(full_schema)
        .option("mode", m)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine): good rows with ``_corrupt`` dropped, and
    the quarantined raw lines as (raw_line). Two filters over one
    scan — Spark pushes the IS NULL / IS NOT NULL predicates into the
    same JSON source."""
    if CORRUPT_COL not in df.columns:
        raise ValueError(
            "split_quarantine: frame has no quarantine column — read "
            "with mode='permissive'"
        )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    # the quarantine keeps the declared columns alongside raw_line:
    # Spark refuses a scan whose only referenced column is the
    # internal corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN
    # — and column pruning would strip a dropped anchor right back
    # out), and the partially-parsed fields are diagnostic anyway
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).withColumnRenamed(
        CORRUPT_COL, "raw_line"
    )
    return good, bad


def quarantine_report(
    df: DataFrame, required: Sequence[str] = ()
) -> DataFrame:
    """One-row ingest accounting: (n_lines, n_corrupt, n_incomplete,
    bad_fraction). ``n_incomplete`` counts parsed rows with a NULL in
    any ``required`` column (a missing JSON field parses as NULL, not
    as corrupt — the gotcha this report exists to surface).
    bad_fraction is the one IEEE division (exactmath rule).

    WARNING: call this on a MATERIALIZED parse (a cached frame or the
    landed output — :func:`land_jsonl` does it right). On a raw JSON
    scan, corruption is judged against the columns the query actually
    parses, so a projection that prunes a type-broken field reports
    the line as clean (measured and pinned in tests: 3 corrupt landed
    vs 2 on a raw-scan aggregate that never parses doc_id)."""
    corrupt = (
        F.col(CORRUPT_COL).isNotNull()
        if CORRUPT_COL in df.columns
        else F.lit(False)
    )
    incomplete = ~corrupt & (
        F.lit(False)
        if not required
        else functools.reduce(
            lambda a, b: a | b, [F.col(c).isNull() for c in required]
        )
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(corrupt.cast("long")).alias("n_corrupt"),
        F.sum(incomplete.cast("long")).alias("n_incomplete"),
        (
            F.sum((corrupt | incomplete).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("bad_fraction"),
    )


def land_jsonl(
    spark: SparkSession,
    src_path: str,
    schema: str,
    out_dir: str,
    required: Sequence[str] = (),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Parse ONCE, land both streams, report from the landed copy:
    (good, quarantine, report). This is the exact form of the
    quarantine contract — the write projects every declared column, so
    the parser judges corruption against the FULL schema, and the
    report reads the materialized result instead of re-scanning raw
    JSON (where corruption is projection-dependent — see
    quarantine_report's warning; the divergence is pinned in tests).

    One parse pass over the source: the landed dataset is partitioned
    by the corruption flag (``_bad=true`` holds the quarantine with
    ``raw_line``), so good-only readers get partition pruning and the
    quarantine is one directory to inspect."""
    df = read_jsonl(spark, src_path, schema)
    (
        df.withColumn("_bad", F.col(CORRUPT_COL).isNotNull())
        .withColumnRenamed(CORRUPT_COL, "raw_line")
        .write.mode("overwrite")
        .partitionBy("_bad")
        .parquet(out_dir)
    )
    # partition-dir inference types the flag as STRING (the store.py
    # read-cast rule) — restore BOOLEAN before anyone filters on it
    landed = spark.read.parquet(out_dir).withColumn(
        "_bad", F.col("_bad").cast("boolean")
    )
    good = landed.filter(~F.col("_bad")).drop("_bad", "raw_line")
    bad = landed.filter(F.col("_bad")).drop("_bad")
    corrupt = F.col("raw_line").isNotNull()
    incomplete = ~corrupt & (
        F.lit(False)
        if not required
        else functools.reduce(
            lambda a, b: a | b, [F.col(c).isNull() for c in required]
        )
    )
    report = landed.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(corrupt.cast("long")).alias("n_corrupt"),
        F.sum(incomplete.cast("long")).alias("n_incomplete"),
        (
            F.sum((corrupt | incomplete).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("bad_fraction"),
    )
    return good, bad, report
