"""Upsert-by-primary-key sink (SURVEY.md §2.K K1-K3).

Cassandra makes the reference's at-least-once ``foreachBatch`` writes
idempotent by last-write-wins upserting on the primary key (reference:
iot-cassandra-pipeline/cassandra/init.cql:25, 48; write path
spark_consumer.py:147-153, 197-203). A parquet sink gets the same
semantics the way Cassandra itself does — LSM-style:

- **writes append**: each micro-batch lands as new files stamped with a
  monotonically increasing ``__epoch`` (the foreachBatch epoch_id);
- **reads reconcile**: the read path keeps the max-``__epoch`` row per
  PK (dedup-on-read == Cassandra's read-path reconciliation);
- **compaction** folds the log back to one row per PK (the analogue of
  the reference's SizeTiered/Leveled compaction strategies,
  reference: init.cql:27-31, 50-53).

This is scale-correct: streaming writes stay append-only (no
read-modify-write in the hot path), reconciliation is one shuffle on
the PK, and compaction is an idempotent maintenance job.

Serving reads reuse the reconciled view while the log on disk is
unchanged. Each ``read`` lists the log directory once; the snapshot key
is the session plus every child's name and length. Every write appends
part files named with its write job's UUID and ``compact`` swaps in
freshly named files, so any change to the log changes the listing and
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
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import latest_by_pk

#: a Spark output part file, ``part-NNNNN-<write job uuid>-cNNN...``
_PART_FILE = re.compile(
    r"part-\d+-([0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})-c\d+"
)

#: most rows ``lookup`` reads on the driver: the rows of the row groups
#: whose footer statistics can match. Above it the Spark plan is faster
#: (the crossover measured on 4 cores, DESIGN.md §17).
DRIVER_READ_MAX_ROWS = 200_000


class ParquetUpsertSink:
    """Append-only parquet sink with PK last-write-wins read semantics."""

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
        # (snapshot key, dataset over the listed part files, or None)
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
            (
                batch_df.withColumn("__epoch", F.lit(int(epoch_id)))
                .write.mode("append")
                .parquet(self.path)
            )
        finally:
            batch_df.unpersist()

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
        log = spark.read.parquet(self.path)
        if unique_within_epoch and _write_jobs(listing) == 1:
            view = log.drop("__epoch")
        else:
            view = latest_by_pk(log, pk=self.pk, version_col="__epoch").drop("__epoch")
        self._views[unique_within_epoch] = (key, view)
        return view

    def lookup(self, spark: SparkSession, column: str, value) -> pa.Table | None:
        """Last-write-wins rows where ``column == value``, read on the
        driver with no Spark job; ``None`` when the read should run on
        Spark: the log has no part files, or the row groups whose
        footer statistics can match hold more than
        :data:`DRIVER_READ_MAX_ROWS` rows.

        The log is listed once and exactly the listed part files are
        read, so a write landing mid-read cannot change the snapshot;
        the dataset (and the footers it has read) is reused under the
        same (session, listing) key as :meth:`read`. Spark writes
        timestamps as INT96, which pyarrow returns as naive
        ``timestamp[ns]`` holding UTC instants; they come back marked
        UTC, and every field nullable, as Spark's parquet read types
        them."""
        listing = self._listing()
        key = (spark, listing)
        if self._dataset is None or self._dataset[0] != key:
            parts = [
                os.path.join(self.path, name)
                for name, _ in listing
                if name.endswith(".parquet") and not name.startswith((".", "_"))
            ]
            self._dataset = (key, ds.dataset(parts, format="parquet") if parts else None)
        dataset = self._dataset[1]
        if dataset is None:
            return None
        match = ds.field(column) == value
        groups = matching_row_groups(dataset, match)
        if sum(g.num_rows for f in groups for g in f.row_groups) > DRIVER_READ_MAX_ROWS:
            return None
        rows = ds.FileSystemDataset(groups, dataset.schema, dataset.format).to_table(
            filter=match
        )
        return _spark_typed(self._reconcile(rows))

    def _reconcile(self, rows: pa.Table) -> pa.Table:
        """The max-``__epoch`` row per PK, without ``__epoch``: the
        Arrow form of :func:`latest_by_pk`."""
        by_epoch = rows.take(pc.sort_indices(rows, [("__epoch", "descending")]))
        ranked = by_epoch.append_column("__rn", pa.array(range(len(by_epoch)), pa.int64()))
        first = ranked.group_by(list(self.pk), use_threads=False).aggregate(
            [("__rn", "first")]
        )
        return by_epoch.take(first["__rn_first"]).drop_columns(["__epoch"])

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
        return spark.read.parquet(self.path)

    # -- maintenance -------------------------------------------------------
    def compact(self, spark: SparkSession) -> None:
        """Fold the log to one row per PK — the small-files/compaction
        maintenance job (reference's compaction-strategy analogue).
        Writes to a temp dir then swaps; recover_swap first RESTORES the
        table if a prior compaction crashed between its two renames
        (never deletes the only remaining copy), then clears redundant
        leftovers. Each output file is sorted by the PK, so footer
        statistics narrow a ``lookup`` to a few row groups."""
        from ..storage import _swap_paths, commit_swap, recover_swap

        recover_swap(self.path)
        tmp, _ = _swap_paths(self.path)
        reconciled = latest_by_pk(
            spark.read.parquet(self.path), pk=self.pk, version_col="__epoch"
        )
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


def _spark_typed(table: pa.Table) -> pa.Table:
    """``table`` with naive timestamps marked UTC and every field
    nullable, the types Spark's parquet read gives the same columns."""
    return table.cast(
        pa.schema(
            pa.field(
                f.name,
                pa.timestamp(f.type.unit, "UTC")
                if pa.types.is_timestamp(f.type) and f.type.tz is None
                else f.type,
            )
            for f in table.schema
        )
    )
