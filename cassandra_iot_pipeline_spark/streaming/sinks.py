"""Upsert-by-primary-key sink (SURVEY.md §2.K K1-K3).

Cassandra makes the reference's at-least-once ``foreachBatch`` writes
idempotent by last-write-wins upserting on the primary key (reference:
iot-cassandra-pipeline/cassandra/init.cql:25, 48; write path
spark_consumer.py:147-153, 197-203). A parquet sink gets the same
semantics the way Cassandra itself does — LSM-style:

- **writes append**: each micro-batch lands as new files stamped with a
  monotonically increasing ``__epoch`` (the foreachBatch epoch_id),
  written by Spark (``append``) or from an Arrow table on the driver
  (``append_arrow``), the two kinds alike to every reader;
- **reads reconcile**: the read path keeps the max-``__epoch`` row per
  PK (dedup-on-read == Cassandra's read-path reconciliation);
- **compaction** folds the log back to one row per PK (the analogue of
  the reference's SizeTiered/Leveled compaction strategies,
  reference: init.cql:27-31, 50-53).

A rollup table may also hold **partial** rows: one epoch's share of a
PK's aggregate, marked by a true ``__partial`` and carrying the hourly
rollup's integer-unit state (:data:`FOLD`). Every read and ``compact``
applies one rule to both kinds: per PK, the newest complete row plus the
partials with a higher ``__epoch``, deduplicated on (PK, ``__epoch``)
and folded. A log without partial rows reduces to last-write-wins (the
newest complete row), and is planned as before.

This is scale-correct: streaming writes stay append-only (no
read-modify-write in the hot path), reconciliation is one shuffle on
the PK, and compaction is an idempotent maintenance job.

Serving reads reuse the reconciled view while the log on disk is
unchanged. Each ``read`` lists the log directory once; the snapshot key
is the session plus every child's name and length. Every write appends
part files named with its write job's UUID (a driver write names its
one file with a fresh UUID, and renames it in from a hidden name that
no reader lists as a part file) and ``compact`` swaps in freshly named
files, so any change to the log changes the listing and
the next read rebuilds the view. Nothing is persisted: a reused view
still runs the reconcile window on every action, it only skips the
re-listing, the schema-inference job and the re-analysis.

Single-key serving reads can skip Spark altogether: ``lookup`` reads the
listed part files with ``pyarrow.dataset`` on the driver, keeps the row
groups whose footer statistics can hold the key, and reconciles them in
Arrow. It declines (returns ``None``, and the caller plans the Spark
read) when those row groups hold more than :data:`DRIVER_READ_MAX_ROWS`
rows. ``compact`` sorts each output file by the PK, so on a compacted
log one key's rows sit in a few row groups (the Cassandra clustering
order as an in-file sort, like ``storage.write_events_table``).

The production backend for the same interface is the Cassandra Spark
connector (``org.apache.spark.sql.cassandra``); its per-table
consistency levels (ONE for raw, QUORUM for aggregates — reference:
spark_consumer.py:152, 202) are storage-tier metadata carried in
``sink_options`` and ignored by the parquet backend.
"""

from __future__ import annotations

import os
import re
import uuid
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.upsert import latest_by_pk

#: a Spark output part file, ``part-NNNNN-<write job uuid>-cNNN...``
_PART_FILE = re.compile(
    r"part-\d+-([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})-c\d+"
)

#: most rows ``lookup`` reads on the driver: the rows of the row groups
#: whose footer statistics can match. Above it the Spark plan is faster
#: (the crossover measured on 4 cores, DESIGN.md §17).
DRIVER_READ_MAX_ROWS = 150_000

#: the column that marks a partial row (true); complete rows lack it
PARTIAL = "__partial"

#: how the partial rows of one PK fold: the hourly rollup's state in
#: integer units (operators/exactmath.py), so every fold is exact and
#: order-free. A complete row carries ``avg_value`` instead of
#: ``sum_units``; its units are ``round(avg_value * event_count * 100)``,
#: exact while the sum stays under 2**50 units.
FOLD = {"sum_units": "sum", "event_count": "sum", "max_value": "max", "min_value": "min"}

#: the state columns a folding log always reads, present in its files or not
_FOLD_FIELDS = pa.schema([("avg_value", pa.float64()), ("sum_units", pa.int64())])


class ParquetUpsertSink:
    """Append-only parquet sink with PK last-write-wins read semantics
    (partial rows folded)."""

    def __init__(
        self,
        path: str,
        pk: Sequence[str],
        sink_options: dict[str, str] | None = None,
    ) -> None:
        self.path = path
        self.pk = tuple(pk)
        # storage-tier metadata (e.g. {"consistency_level": "QUORUM"});
        # pass-through only, like the reference's connector options.
        self.sink_options = dict(sink_options or {})
        # unique_within_epoch -> (snapshot key, reconciled view)
        self._views: dict[bool, tuple[tuple, DataFrame]] = {}
        # (listing, dataset over the listed part files, or None)
        self._dataset: tuple[tuple, ds.Dataset | None] | None = None

    # -- write path (called from foreachBatch) --------------------------
    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # Non-empty-batch guard (F4) via isEmpty — the reference used
        # batch_df.count() twice per batch, triggering two extra scans
        # (reference: spark_consumer.py:139, 154 — anti-pattern noted in
        # SURVEY §4.1). Persist across the guard + write: each action on
        # an uncached batch frame re-executes its plan from the source
        # (observed as numInputRows = 2x the replay in the throughput
        # listener — the guard's scan and the write's scan both counted),
        # so the pair of actions costs two source reads without the cache.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            self.append(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    def append(self, rows: DataFrame, epoch_id: int) -> None:
        """Land ``rows`` as epoch ``epoch_id``, with no empty check (an
        empty frame still lands one schema-only file). Rows with a true
        :data:`PARTIAL` column are partials, the rest complete rows."""
        rows.withColumn("__epoch", F.lit(int(epoch_id))).write.mode("append").parquet(
            self.path
        )

    def append_arrow(self, rows: pa.Table, epoch_id: int) -> None:
        """Land ``rows`` as epoch ``epoch_id`` from the driver, in one
        file that reads as :meth:`append` writes: a Spark part-file
        name with a fresh UUID (one write job to :func:`_write_jobs`),
        INT96 timestamps and ``__epoch`` as the last column, an int32.
        The file is written under a hidden name and renamed into place,
        so a listing sees all of it or none. An empty table lands
        nothing."""
        if rows.num_rows == 0:
            return
        rows = rows.append_column(
            "__epoch", pa.repeat(pa.scalar(int(epoch_id), pa.int32()), rows.num_rows)
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
        hidden = os.path.join(self.path, f".{name}.inprogress")
        pq.write_table(
            rows,
            hidden,
            compression="snappy",
            use_deprecated_int96_timestamps=True,
            store_schema=False,
        )
        os.rename(hidden, os.path.join(self.path, name))

    def foreach_batch(self):
        return self.write_batch

    # -- read path -------------------------------------------------------
    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def read(
        self, spark: SparkSession, unique_within_epoch: bool = False
    ) -> DataFrame:
        """Reconciled view: latest row per PK (last-write-wins).

        ``unique_within_epoch`` is a caller-supplied semantic guarantee
        — "each epoch I wrote carries at most one row per PK" — which
        holds by query shape for every parquet-sink replay in this
        engine: update-mode aggregation emits each group once per
        batch, the arrival-time dedup passthrough emits each PK once
        total, and an INNER stream-stream join emits each (left, right)
        pair once. Under that guarantee, when the log on disk holds the
        output of ONE write (one epoch, or one compaction) the
        reconcile window is the identity, so the read skips the hash
        exchange + sort + row_number pass entirely (r12 measured the
        four bounded replays' floor at ~8.5 s; the post-query
        reconcile re-scan was a visible slice of it). The check is
        made on disk, not on in-process bookkeeping: it counts the
        distinct write-job UUIDs in the part-file names (a listing, no
        Spark job), so a log that any other instance, an earlier run
        or a re-delivered epoch appended to keeps the full window,
        which produces the identical result the guarantee implies.
        Last-write-wins semantics for re-delivered PKs across epochs
        are unchanged.

        The view is rebuilt only when the log changes: the same listing
        keys a snapshot (session, then each child's name and length),
        and while the key is unchanged this returns the DataFrame the
        last read built. New epochs from any writer add part files and
        ``compact`` swaps in new ones, so either changes the key; the
        view is not persisted, so the reconcile still runs on every
        action against exactly the files it was built over."""
        # listed before Spark lists: a write landing in between leaves
        # a key older than the view, which only costs a rebuild later
        listing = self._listing()
        key = (spark, listing)
        cached = self._views.get(unique_within_epoch)
        if cached is not None and cached[0] == key:
            return cached[1]
        log = self._log(spark, listing)
        if unique_within_epoch and PARTIAL not in log.columns and _write_jobs(listing) == 1:
            view = log.drop("__epoch")
        else:
            view = self._reconciled(log).drop("__epoch")
        self._views[unique_within_epoch] = (key, view)
        return view

    def _log(self, spark: SparkSession, listing: tuple) -> DataFrame:
        """The append log, all versions. Spark infers its schema, except
        for a log holding partial rows, whose files differ in columns:
        that one is read with the union of its footers' schemas."""
        dataset = self._snapshot(listing)
        if dataset is not None and PARTIAL in dataset.schema.names:
            schema = from_arrow_schema(_spark_schema(dataset.schema))
            return spark.read.schema(schema).parquet(self.path)
        return spark.read.parquet(self.path)

    def _reconciled(self, log: DataFrame) -> DataFrame:
        """One row per PK, with its ``__epoch``: the newest complete row
        plus the partials with a higher ``__epoch``, each epoch counted
        once, folded by :data:`FOLD`. With no partial rows that is the
        max-``__epoch`` row, planned as :func:`latest_by_pk`."""
        if PARTIAL not in log.columns:
            return latest_by_pk(log, pk=self.pk, version_col="__epoch")
        pk = list(self.pk)
        complete = F.coalesce(~F.col(PARTIAL), F.lit(True))
        base = F.max(F.when(complete, F.col("__epoch"))).over(Window.partitionBy(*pk))
        kept = (
            log.withColumn("__base", base)
            .filter(
                F.when(complete, F.col("__epoch") == F.col("__base")).otherwise(
                    F.coalesce(F.col("__epoch") > F.col("__base"), F.lit(True))
                )
            )
            .withColumn(
                "sum_units",
                F.coalesce(
                    F.col("sum_units"),
                    F.round(F.col("avg_value") * F.col("event_count") * 100).cast("long"),
                ),
            )
            .dropDuplicates([*pk, "__epoch"])
        )
        folded = kept.groupBy(*pk).agg(
            *(getattr(F, how)(c).alias(c) for c, how in FOLD.items()),
            F.max("__epoch").alias("__epoch"),
        )
        return folded.select(
            *pk,
            (F.col("sum_units") / F.lit(100.0) / F.col("event_count")).alias("avg_value"),
            "max_value",
            "min_value",
            "event_count",
            "__epoch",
        )

    def lookup(self, spark: SparkSession, column: str, value) -> pa.Table | None:
        """Rows of the reconciled view where ``column == value``, read
        on the driver with no Spark job; ``None`` when the read should
        run on Spark: the log has no part files, or the row groups whose
        footer statistics can match hold more than
        :data:`DRIVER_READ_MAX_ROWS` rows.

        The log is listed once and exactly the listed part files are
        read, so a write landing mid-read cannot change the snapshot;
        the dataset (and the footers it has read) is reused while the
        listing is unchanged. Spark writes timestamps as INT96, which
        pyarrow returns as naive ``timestamp[ns]`` holding UTC instants;
        they come back marked UTC, and every field nullable, as Spark's
        parquet read types them."""
        dataset = self._snapshot(self._listing())
        if dataset is None:
            return None
        match = ds.field(column) == value
        groups = matching_row_groups(dataset, match)
        if sum(g.num_rows for f in groups for g in f.row_groups) > DRIVER_READ_MAX_ROWS:
            return None
        rows = ds.FileSystemDataset(groups, dataset.schema, dataset.format).to_table(
            filter=match
        )
        return _spark_typed(self._reconcile(rows).drop_columns(["__epoch"]))

    def _reconcile(self, rows: pa.Table) -> pa.Table:
        """The Arrow form of :meth:`_reconciled`."""
        if PARTIAL not in rows.column_names:
            by_epoch = rows.take(pc.sort_indices(rows, [("__epoch", "descending")]))
            return _first_per(by_epoch, self.pk)
        pk = list(self.pk)

        def complete(t):
            return pc.invert(pc.fill_null(t[PARTIAL], False))

        if pc.any(complete(rows)).as_py():  # else every row is kept
            bases = rows.filter(complete(rows)).group_by(pk, use_threads=False)
            rows = rows.join(bases.aggregate([("__epoch", "max")]), pk)
            base = rows["__epoch_max"]
            rows = rows.filter(
                pc.if_else(
                    complete(rows),
                    pc.equal(rows["__epoch"], base),
                    pc.fill_null(pc.greater(rows["__epoch"], base), True),
                )
            )
        rows = _first_per(rows, pk + ["__epoch"])
        recovered = pc.round(
            pc.multiply(pc.multiply(rows["avg_value"], pc.cast(rows["event_count"], pa.float64())), 100.0),
            round_mode="half_towards_infinity",
        )
        units = pc.coalesce(rows["sum_units"], pc.cast(recovered, pa.int64()))
        rows = rows.set_column(rows.schema.get_field_index("sum_units"), "sum_units", units)
        folded = rows.group_by(pk, use_threads=False).aggregate(
            [(c, how) for c, how in FOLD.items()] + [("__epoch", "max")]
        )
        count = folded["event_count_sum"]
        avg = pc.divide(
            pc.divide(pc.cast(folded["sum_units_sum"], pa.float64()), 100.0),
            pc.cast(count, pa.float64()),
        )
        return pa.table(
            {
                **{c: folded[c] for c in pk},
                "avg_value": avg,
                "max_value": folded["max_value_max"],
                "min_value": folded["min_value_min"],
                "event_count": count,
                "__epoch": folded["__epoch_max"],
            }
        )

    def _snapshot(self, listing: tuple) -> ds.Dataset | None:
        """A dataset over exactly the listed part files (``None`` when
        there are none), typed with the union of their footers' schemas
        and reused while the listing is unchanged. A log holding partial
        rows always carries both state columns of :data:`FOLD`."""
        if self._dataset is None or self._dataset[0] != listing:
            parts = [
                os.path.join(self.path, name)
                for name, _ in listing
                if name.endswith(".parquet") and not name.startswith((".", "_"))
            ]
            dataset = None
            if parts:
                files = list(ds.dataset(parts, format="parquet").get_fragments())
                schema = pa.unify_schemas([f.physical_schema for f in files])
                if PARTIAL in schema.names:
                    schema = pa.unify_schemas([schema, _FOLD_FIELDS])
                dataset = ds.FileSystemDataset(files, schema, ds.ParquetFileFormat())
            self._dataset = (listing, dataset)
        return self._dataset[1]

    def _listing(self) -> tuple[tuple[str, int], ...]:
        """(name, length) of every child of the log directory, sorted,
        from one directory scan: no Spark job, and no py4j round trip
        per file (a Hadoop listing through py4j costs ~0.3 ms a file).
        The log is a local directory, as :meth:`exists` assumes."""
        try:
            with os.scandir(self.path) as children:
                return tuple(sorted((c.name, c.stat().st_size) for c in children))
        except FileNotFoundError:
            return ()

    def read_log(self, spark: SparkSession) -> DataFrame:
        """The raw append log, all versions (debug / audit surface)."""
        return self._log(spark, self._listing())

    # -- maintenance -------------------------------------------------------
    def compact(self, spark: SparkSession) -> None:
        """Fold the log to one row per PK — the small-files/compaction
        maintenance job (reference's compaction-strategy analogue).
        Writes to a temp dir then swaps; recover_swap first RESTORES the
        table if a prior compaction crashed between its two renames
        (never deletes the only remaining copy), then clears redundant
        leftovers. Each output file is sorted by the PK, so footer
        statistics narrow a ``lookup`` to a few row groups. Partials fold
        into complete rows that keep the max ``__epoch`` they folded, so
        a re-delivered epoch stays counted once."""
        from ..storage import _swap_paths, commit_swap, recover_swap

        recover_swap(self.path)
        tmp, _ = _swap_paths(self.path)
        reconciled = self._reconciled(self._log(spark, self._listing()))
        reconciled.sortWithinPartitions(*self.pk).write.mode("overwrite").parquet(tmp)
        commit_swap(self.path)


def _write_jobs(listing: tuple[tuple[str, int], ...]) -> int:
    """Distinct Spark write jobs whose part files make up the log
    (each ``write.parquet`` call stamps one job UUID into every file
    name it produces)."""
    return len(
        {m.group(1) for m in (_PART_FILE.match(name) for name, _ in listing) if m}
    )


def matching_row_groups(dataset: ds.Dataset, match: ds.Expression) -> list:
    """Each part file of ``dataset`` narrowed to the row groups whose
    footer statistics can satisfy ``match`` (files with none dropped)."""
    groups = (f.subset(filter=match) for f in dataset.get_fragments())
    return [f for f in groups if f.row_groups]


def _first_per(table: pa.Table, keys: Sequence[str]) -> pa.Table:
    """The first row of ``table`` for each distinct value of ``keys``."""
    ranked = table.append_column("__rn", pa.array(range(len(table)), pa.int64()))
    first = ranked.group_by(list(keys), use_threads=False).aggregate([("__rn", "min")])
    return table.take(first["__rn_min"])


def _spark_schema(schema: pa.Schema) -> pa.Schema:
    """``schema`` with naive timestamps marked UTC and every field
    nullable, the types Spark's parquet read gives the same columns."""
    return pa.schema(
        pa.field(
            f.name,
            pa.timestamp(f.type.unit, "UTC")
            if pa.types.is_timestamp(f.type) and f.type.tz is None
            else f.type,
        )
        for f in schema
    )


def _spark_typed(table: pa.Table) -> pa.Table:
    return table.cast(_spark_schema(table.schema))
