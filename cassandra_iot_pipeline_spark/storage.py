"""At-rest physical layout (SURVEY.md §4.2).

Reproduces the intent of the reference's Cassandra storage design in
parquet terms:

| Cassandra mechanism (reference)                  | Engine equivalent |
|--------------------------------------------------|-------------------|
| partition key hashing (init.cql:25)              | partitionBy(event_date) + many files hashed by key |
| CLUSTERING ORDER BY ts DESC (init.cql:26)        | sortWithinPartitions on write |
| compaction strategies (init.cql:27-31,50-53)     | compact_small_files maintenance job |
| token-aware co-located reads                     | bucketBy on the join/group key |
| secondary index (init.cql idx_location)          | write_index_projection: materialized projection partitioned by the indexed column |

Scale rationale: date partitioning gives partition pruning for the
time-range serving reads (F2); in-file sort by (device, ts desc) gives
row-group min/max pruning for device point lookups (F1) — together they
replace Cassandra's (partition key, clustering key) addressing. Bucketing
by the join key removes the shuffle from fact-to-fact joins entirely
(verified by plan assertion in tests).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _swap_paths(path: str) -> tuple[str, str]:
    """Sibling temp/old paths for the two-rename swap. The basename is
    dot-prefixed so the siblings are (a) hidden from Spark's file
    listing and (b) never mistaken for real parts by directory-layout
    parsers — a swap of a store's ``epoch=3`` delta must not leave an
    ``epoch=3.old`` sibling that ``store.store_parts`` would try to
    parse as an epoch number."""
    base = path.rstrip("/")
    parent, name = os.path.split(base)
    return (
        os.path.join(parent, f".{name}.compacting"),
        os.path.join(parent, f".{name}.old"),
    )


def recover_swap(path: str) -> None:
    """Crash recovery for the compaction swap (shared by
    :func:`compact_small_files` and ``ParquetUpsertSink.compact``).

    The swap sequence is: write tmp ('.compacting') -> rename(path, old)
    -> rename(tmp, path) -> rmtree(old). A crash between the two renames
    leaves ``path`` missing with the ONLY copies in tmp (complete
    compacted output — it is always fully written before the first
    rename) and old (the original). Restore before touching anything:
    prefer tmp (the finished compaction), fall back to old. Only once
    ``path`` exists again are leftovers redundant (tmp = partial write
    from a crash mid-write; old = stale copy from a crash before the
    final rmtree) and safe to clear."""
    tmp, old = _swap_paths(path)
    if not os.path.exists(path):
        if os.path.exists(tmp):
            os.rename(tmp, path)
        elif os.path.exists(old):
            os.rename(old, path)
        else:
            raise FileNotFoundError(
                f"{path}: dataset missing and no swap leftovers to recover from"
            )
    for leftover in (tmp, old):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


def commit_swap(path: str) -> None:
    """Atomically replace ``path`` with the fully-written '.compacting'
    copy (two renames + cleanup; crash-recoverable via recover_swap)."""
    tmp, old = _swap_paths(path)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def write_events_table(events: DataFrame, path: str) -> None:
    """Write the raw events table date-partitioned, sorted within files
    by (user_id, ts desc) — the sensor_events layout."""
    (
        events.withColumn("event_date", F.to_date("ts"))
        .repartition(F.col("event_date"))
        .sortWithinPartitions(F.col("user_id"), F.col("ts").desc())
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def read_events_table(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.drop("event_date")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: later joins/aggregations on
    ``bucket_col`` are co-located — no shuffle (SortMergeJoin reads both
    sides pre-partitioned). The parquet-era answer to Cassandra's
    token-aware routing."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def compact_small_files(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> None:
    """Small-file compaction job — the streaming sink's maintenance pass
    (the engine analogue of the reference's SSTable compaction). Rewrites
    the dataset with AQE-coalesced partitions sized for ``target_file_mb``.
    """
    recover_swap(path)
    df = spark.read.parquet(path)
    tmp, _ = _swap_paths(path)
    # Size estimate via file metadata only (driver-side listing, no data
    # movement).
    import glob

    total = sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, total // (target_file_mb * 1024 * 1024))
    df.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    commit_swap(path)


def write_index_projection(
    events: DataFrame,
    path: str,
    index_col: str = "event_type",
    sort_cols: tuple[str, ...] = ("user_id", "ts"),
) -> None:
    """Materialized secondary-index projection — the parquet analogue
    of the reference's ``CREATE INDEX idx_location ON
    sensor_events(location)`` (init.cql:81-82).

    Cassandra's 2i answers "all rows where location = X" without
    scanning every partition by keeping a per-node inverted table; the
    columnar equivalent is a second copy of the (narrow) serving
    columns partitioned by the indexed value: ``partitionBy(index_col)``
    makes an equality read touch exactly one directory (partition
    pruning — asserted in tests), and the in-partition sort keeps
    row-group min/max useful for the secondary predicate. Only sensible
    for low-cardinality index columns (exactly Cassandra's 2i guidance);
    high-cardinality point lookups belong to the primary layout
    (write_events_table) whose file-level sort serves them.

    One repartition by the index column on write — reads pay zero
    shuffle. Refresh strategy mirrors the reference's MV/2i behavior:
    rebuild per landed partition, not per row."""
    (
        events.repartition(F.col(index_col))
        # index_col leads the sort: the parquet writer requires
        # partition-column ordering and would otherwise inject its own
        # SortExec on index_col alone, discarding the secondary order
        # whenever the sorter spills (stability is not guaranteed)
        .sortWithinPartitions(index_col, *[F.col(c) for c in sort_cols])
        .write.mode("overwrite")
        .partitionBy(index_col)
        .parquet(path)
    )


def read_by_index(
    spark: SparkSession, path: str, value: str, index_col: str = "event_type"
) -> DataFrame:
    """Equality serving read against the index projection; the filter
    lands in the scan's PartitionFilters, so only the one matching
    directory is read."""
    return spark.read.parquet(path).filter(F.col(index_col) == value)


def zorder_value_k(cols: list["F.Column"], bits: int = 16) -> "F.Column":
    """Morton interleave of the low ``bits`` of k non-negative integer
    columns — bit i of dimension j lands at curve position i*k + j, so
    rows close in EVERY dimension stay close in the 1-D sort order.
    Pure shift/and/or expression tree (k·bits terms), fully inside
    codegen. ``k * bits`` must fit a signed 63-bit key."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder needs at least 2 dimensions")
    if k * bits > 63:
        raise ValueError(
            f"zorder: {k} dims x {bits} bits = {k * bits} curve bits "
            "exceeds the 63-bit sort key — lower bits (quantize/rank "
            "the dimensions first)"
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(c.cast("long"), i).bitwiseAND(
                        F.lit(1)
                    ),
                    i * k + j,
                )
            )
    return z


def write_zordered(
    events: DataFrame,
    path: str,
    col_a: str = "user_id",
    col_b: str = "hour",
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """2-dim Z-ordered layout — see :func:`write_zordered_k` (this is
    the k=2 form kept for the established call sites)."""
    write_zordered_k(events, path, [col_a, col_b], bits, n_files)


def write_zordered_k(
    events: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-ordered at-rest layout: range-partition + sort by the Morton
    curve of k filter dimensions, so parquet row-group min/max stays
    tight on EVERY curve column and a predicate on ANY of them prunes
    most files — the multi-dimensional completion of the 1-D
    clustering story (Cassandra clusters on one key sequence; a
    single-column sort gives data skipping on that column only, while
    the curve gives it on all k at a modest widening of each; skipping
    per dimension degrades as k grows — 2-4 dims is the useful range,
    the same trade Delta/Iceberg OPTIMIZE ZORDER documents).

    The inputs must be non-negative integers that fit ``bits`` bits
    (quantize/rank first at scale — e.g. day-relative hour, bucketed
    ids). One range shuffle on write; reads are plain parquet scans
    whose file/row-group statistics do the pruning."""
    # inputs wider than `bits` would silently interleave identically
    # (user_id 5 and 65541 share low bits) and negatives garble the
    # curve — fail in-plan instead of quietly producing a layout with
    # no skipping (same raise_error-guard pattern as the jaccard block
    # cap)
    lim = 1 << bits
    bad = None
    for c in cols:
        # isNull first: for a NULL dimension, (col < 0) | (col >= lim)
        # is NULL, F.when(NULL, raise) falls through, and the row would
        # slip past with a NULL Morton key — the silent-bad-layout
        # outcome the guard exists to prevent
        out_of_range = (
            F.col(c).isNull() | (F.col(c) < 0) | (F.col(c) >= lim)
        )
        bad = out_of_range if bad is None else bad | out_of_range
    guard = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(
                    f"write_zordered: ({', '.join(cols)}) value outside "
                    f"[0, {lim}) for bits={bits} — quantize/rank the "
                    "dimensions first"
                )
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    z = zorder_value_k([F.col(c) for c in cols], bits)
    zed = events.filter(guard).withColumn("__z", z)
    if n_files is None:
        # pin a real partition count: AQE happily coalesces a small
        # range shuffle to ONE partition, which erases the layout the
        # curve exists to create (size to target file size at scale)
        n_files = int(
            events.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    if n_files < 1:
        raise ValueError(f"write_zordered: n_files {n_files} < 1")
    (
        zed.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def expire_partitions(
    path: str, before_date: str, partition_col: str = "event_date"
) -> list[str]:
    """Retention by whole-partition drop — the parquet analogue of the
    reference's TimeWindowCompactionStrategy posture, where entire
    time windows age out atomically instead of row-by-row deletes
    (reference: iot-cassandra-pipeline/cassandra/init.cql:59-74,
    docs/baseline-architecture.md:157 "Entire windows are dropped
    atomically when data expires via TTL").

    Removes every ``<partition_col>=<value>`` directory with
    ``value < before_date`` (ISO dates compare lexically). Directory
    removal only: no data rewrite, no tombstones, no job — a reader
    racing the drop sees each partition entirely or not at all, which
    is exactly the TimeWindow guarantee. Rows whose retention boundary
    does not align with the partition grain go through the normal
    filter-rewrite + compaction path instead; keeping the *layout*
    grain equal to the *retention* grain is the design point (choose
    the partition column accordingly).

    Returns the dropped partition values, sorted.
    """
    prefix = partition_col + "="
    dropped: list[str] = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(prefix):
            continue
        value = entry[len(prefix):]
        if value < before_date:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(value)
    return dropped


def rowgroup_pruning_report(
    path: str, predicates: dict[str, tuple[float, float]]
) -> dict:
    """Measure how much data skipping a layout actually delivers:
    read ONLY the parquet footers (row-group min/max statistics — a
    driver-side metadata pass, no row data) and report how many row
    groups a conjunctive box predicate ``{col: (lo, hi)}`` would have
    to scan. This is the number the Z-order layout exists to improve,
    made observable instead of asserted: run it on the same rows
    written naive vs ``write_zordered`` and compare ``skip_fraction``
    (tests pin the ordering; SCALE.md carries measured rows).

    A row group with missing statistics for any predicate column
    counts as scanned (the engine must read it), matching how Spark's
    parquet filter pushdown treats stat-less groups."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    total = scanned = rows_total = rows_scanned = 0
    for f in files:
        pf = _pq.ParquetFile(f)
        md = pf.metadata
        # column index from the file SCHEMA, not row_group(0): a
        # zero-row partition writes a file with no row groups at all
        col_idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            total += 1
            rows_total += g.num_rows
            # conjunctive box: ONE column whose stats definitively
            # exclude the range skips the group; a stat-less column
            # can never exclude (must-scan unless another one does)
            excluded = False
            for c, (lo, hi) in predicates.items():
                if c not in col_idx:
                    raise ValueError(f"pruning report: no column {c!r}")
                st = g.column(col_idx[c]).statistics
                if st is None or not st.has_min_max:
                    continue
                if st.max < lo or st.min > hi:
                    excluded = True
                    break
            if not excluded:
                scanned += 1
                rows_scanned += g.num_rows
    return {
        "row_groups": total,
        "scanned": scanned,
        "skipped": total - scanned,
        "skip_fraction": (total - scanned) / total if total else 0.0,
        "rows_total": rows_total,
        "rows_scanned": rows_scanned,
    }
