"""Delta+base parquet store layout — the shared persistence shape of
the engine's incremental stores (the near-dup dedup store in
streaming/dedup.py, the ANN index in functions/ann_store.py).

Layout of one store directory:

- ``epoch=N/``       delta written by batch N (overwrite = idempotent
                     under at-least-once replay)
- ``base_upto=K/``   at most one compacted base folding epochs <= K

Readers (:func:`read_store`) pick the highest complete base plus every
epoch ABOVE its ``upto`` — so stale bases, folded epochs, and epoch
dirs re-created by a post-compaction replay are all ignored, which is
what makes every compaction crash window readable with no double
counts. Compaction (:func:`compact_store`) writes the new base to a
hidden ``.compacting`` dir (invisible to Spark's file listing), commits
with a single rename, and only then deletes the folded inputs.
:func:`compact_epochs` is the incremental sibling — it folds only the
delta TAIL into one epoch dir, leaving the base byte-untouched (O(tail)
work instead of O(store); for the associative fold families only).

:class:`MergeableStore` is the one write/fold/compact skeleton over
such a directory: every streaming store family subclasses it (or holds
one per directory) and supplies only a schema, a per-batch projection
and a fold; :func:`run_foreach_batch` is the one place a stream is
wired into such a store (or any other foreachBatch sink).

All filesystem operations go through the Hadoop FileSystem API, so the
stores work on any Hadoop filesystem (file://, hdfs://, s3a://) —
an os.path listing would silently misreport on remote stores. NOTE:
the rename commit is atomic on local/HDFS; on S3 rename is
copy+delete — quiesce writers for the compaction there.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path class) for ``path`` via the Hadoop FS API."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def list_children(spark: SparkSession, path: str) -> list[str]:
    fs, Path = hadoop_fs(spark, path)
    if not fs.exists(Path(path)):
        return []
    return [st.getPath().getName() for st in fs.listStatus(Path(path))]


def store_parts(
    spark: SparkSession, path: str, _subst_stages: bool = True
) -> tuple[str | None, int, list[tuple[int, str]]]:
    """(base_path, base_upto, [(epoch, path) for epochs > upto]) — the
    reader's view of a delta+base store directory.

    If an interrupted :func:`compact_epochs` left a COMPLETE staged
    tail fold behind (``.tailfold=M.compacting`` with ``_SUCCESS``, or
    a mid-commit ``.tailfold=M.committing``), the listing SUBSTITUTES
    the stage for the epochs it folded (every epoch <= M): the stage
    contains exactly their content, so the read is correct however far
    the crashed commit got — without this, a crash between the
    commit's epoch deletes and its rename would leave every reader
    silently undercounting until the next maintenance pass. The
    substitution is NON-destructive: readers never rename or delete
    (two concurrent destructive recoverers could interleave so one
    deletes the other's freshly committed fold — the r10 read-path
    commit had exactly that window); the actual commit happens only in
    the maintenance path (:func:`compact_epochs` /
    :func:`recover_tail_fold`). Incomplete stages are invisible to
    readers and left alone — a concurrent writer may still be
    producing one."""
    names = list_children(spark, path)
    stage = _complete_stage(spark, path, names) if _subst_stages else None

    def _num(name: str, prefix: str) -> int | None:
        # Only pure-integer suffixes are parts: stray siblings (swap
        # leftovers, editor droppings) must be skipped, not crash the
        # listing.
        suffix = name[len(prefix):]
        return int(suffix) if suffix.isdigit() else None

    bases = sorted(
        n
        for n in (
            _num(name, "base_upto=")
            for name in names
            if name.startswith("base_upto=")
        )
        if n is not None
    )
    upto = bases[-1] if bases else -1
    base_path = f"{path}/base_upto={upto}" if bases else None
    epochs = sorted(
        (e, f"{path}/{name}")
        for e, name in (
            (_num(name, "epoch="), name)
            for name in names
            if name.startswith("epoch=")
        )
        if e is not None
    )
    visible = [(e, p) for e, p in epochs if e > upto]
    if stage is not None and stage[0] > upto:
        m, spath = stage
        visible = [(e, p) for e, p in visible if e > m] + [(m, spath)]
        visible.sort()
    return base_path, upto, visible


def _complete_stage(
    spark: SparkSession, path: str, names: list[str]
) -> tuple[int, str] | None:
    """The highest-numbered COMPLETE staged tail fold in ``names`` —
    ``.tailfold=M.committing`` (complete by construction: the commit's
    claim rename only ever moves a complete stage) or
    ``.tailfold=M.compacting`` whose Spark write finished (``_SUCCESS``
    present). Lower-numbered stages are ignored: under the
    single-maintainer contract the highest stage's fold already
    contains their source epochs' content (an uncommitted lower stage
    leaves its sources in place, and compact_epochs recovers before
    folding anew)."""
    fs, Path = hadoop_fs(spark, path)
    best: tuple[int, str] | None = None
    for name in names:
        if not name.startswith(".tailfold="):
            continue
        if name.endswith(".committing"):
            m = name[len(".tailfold=") : -len(".committing")]
        elif name.endswith(".compacting"):
            m = name[len(".tailfold=") : -len(".compacting")]
            if not fs.exists(Path(f"{path}/{name}/_SUCCESS")):
                continue
        else:
            continue
        if not m.isdigit():
            continue
        if best is None or int(m) > best[0]:
            best = (int(m), f"{path}/{name}")
    return best


def read_store(spark: SparkSession, path: str, empty: DataFrame) -> DataFrame:
    """Base + newer epochs, projected and CAST to ``empty``'s schema —
    the cast matters for columns the base carries as partition
    directories (partition inference types them int, while the declared
    schema may say bigint; without the cast a base-only read would leak
    the narrower type to callers)."""
    base_path, _, epochs = store_parts(spark, path)
    return _read_parts(spark, base_path, [p for _, p in epochs], empty)


def _read_parts(
    spark: SparkSession,
    base_path: str | None,
    epoch_paths: list[str],
    empty: DataFrame,
) -> DataFrame:
    from pyspark.sql import functions as F

    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name) for f in empty.schema
    ]
    parts = []
    if base_path is not None:
        parts.append(spark.read.parquet(base_path).select(*cols))
    if epoch_paths:
        parts.append(spark.read.parquet(*epoch_paths).select(*cols))
    if not parts:
        return empty
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def delete_children_upto(
    spark: SparkSession, path: str, prefix: str, upto: int
) -> None:
    """Delete every ``<prefix><n>`` child of ``path`` with n <= upto
    (non-integer suffixes are skipped — the store_parts rule: stray
    siblings must never crash maintenance)."""
    fs, Path = hadoop_fs(spark, path)
    for n in list_children(spark, path):
        if not n.startswith(prefix):
            continue
        suffix = n[len(prefix):]
        if suffix.isdigit() and int(suffix) <= upto:
            fs.delete(Path(f"{path}/{n}"), True)


#: schema of one ingest-watermark row (epoch, running max id)
INGEST_WATERMARK_SCHEMA = "epoch BIGINT, max_id BIGINT"


class IngestWatermark:
    """Per-epoch ``(epoch, max_id)`` side-store backing the monotone-id
    ingest guard shared by the incremental dedup pipelines (text:
    streaming/dedup.py, embedding: streaming/ann.py).

    Both pipelines' keep-first survivorship is id-ordered (cluster
    minimum survives), which is only correct when every NEW batch's ids
    exceed every previously ingested id. Replays of an already-recorded
    epoch legitimately violate that (the store already holds the
    batch's own delta), so the guard keys on the epoch number: a batch
    whose epoch is ABOVE the recorded watermark but whose min id is at
    or below the recorded max fails loudly instead of silently
    inverting survivorship.

    Layout: ``<dir>/epoch=N`` one-row parquet per recorded epoch,
    written AFTER the epoch's data (a crash in between replays the
    epoch, which the guard exempts); :meth:`prune` keeps only the
    latest row (compaction cadence)."""

    def __init__(self, wm_dir: str, id_name: str = "doc_id", what: str = "ingest"):
        self.wm_dir = wm_dir
        self.id_name = id_name
        self.what = what

    def read(self, spark: SparkSession) -> tuple[int, int] | None:
        """(latest epoch, its running max id) or None before the first
        recorded batch."""
        names = list_children(spark, self.wm_dir)
        epochs = sorted(
            int(n[len("epoch="):])
            for n in names
            if n.startswith("epoch=") and n[len("epoch="):].isdigit()
        )
        if not epochs:
            return None
        row = spark.read.parquet(f"{self.wm_dir}/epoch={epochs[-1]}").first()
        return (epochs[-1], row["max_id"])

    def guard(
        self, spark: SparkSession, epoch_id: int, batch_min: int
    ) -> tuple[int, int] | None:
        """Raise on a genuinely out-of-order NEW epoch; return the
        current watermark (for :meth:`record`). Replayed epochs
        (epoch_id at or under the recorded epoch) are exempt."""
        wm = self.read(spark)
        if wm is not None and epoch_id > wm[0] and batch_min <= wm[1]:
            raise ValueError(
                f"{self.what} out of order: epoch {epoch_id} carries "
                f"{self.id_name} {batch_min} <= {wm[1]}, the max already "
                f"ingested through epoch {wm[0]}. Keep-first survivorship "
                f"is id-ordered (cluster minimum survives), so an id below "
                "the watermark would silently lose to a LATER-ingested "
                "store row with a larger id. Stage files in ascending id "
                "ranges (mtime order), or re-number the ingest sequence."
            )
        return wm

    def record(
        self,
        spark: SparkSession,
        epoch_id: int,
        batch_max: int,
        wm: tuple[int, int] | None,
    ) -> None:
        """Persist the epoch's watermark row (call AFTER the epoch's
        data writes — the crash window then replays, which the guard
        exempts)."""
        max_id = batch_max if wm is None else max(batch_max, wm[1])
        spark.createDataFrame(
            [(int(epoch_id), int(max_id))], INGEST_WATERMARK_SCHEMA
        ).write.mode("overwrite").parquet(f"{self.wm_dir}/epoch={epoch_id}")

    def prune(self, spark: SparkSession) -> None:
        """Drop all but the latest epoch row — only the running max
        matters; history is replay bookkeeping."""
        epochs = sorted(
            int(n.split("=", 1)[1])
            for n in list_children(spark, self.wm_dir)
            if n.startswith("epoch=")
        )
        if len(epochs) > 1:
            delete_children_upto(spark, self.wm_dir, "epoch=", epochs[-1] - 1)


def compact_store(
    spark: SparkSession,
    path: str,
    empty: DataFrame,
    fold: Callable[[DataFrame], DataFrame] | None = None,
    partition_by: str | None = None,
    n_files: int = 8,
) -> int | None:
    """Fold the store's base + epoch deltas into a fresh
    ``base_upto=N``; returns the new upto, or None when there was
    nothing to fold (replay leftovers at or under the current upto are
    still cleared). ``fold`` transforms the unioned frame before the
    write (e.g. re-aggregate summary rows); ``partition_by`` lays the
    base out as partition directories (readers recover the column from
    the dir names; probes get partition pruning)."""
    # maintenance path: commit any crashed tail fold FIRST, so the
    # rewrite below folds real epoch dirs, not a substituted stage it
    # would then leave behind as a duplicate
    recover_tail_fold(spark, path)
    base_path, upto, epochs = store_parts(spark, path)
    if not epochs:
        if base_path is not None:
            delete_children_upto(spark, path, "epoch=", upto)
        return None
    new_upto = max(upto, epochs[-1][0])
    df = read_store(spark, path, empty)
    if fold is not None:
        df = fold(df)
    fs, Path = hadoop_fs(spark, path)
    tmp = f"{path}/.compacting"
    fs.delete(Path(tmp), True)  # crash leftover
    if partition_by is not None:
        (
            df.repartition(partition_by)
            .write.mode("overwrite")
            .partitionBy(partition_by)
            .parquet(tmp)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    dest = Path(f"{path}/base_upto={new_upto}")
    fs.delete(dest, True)  # crash leftover with the same upto
    if not fs.rename(Path(tmp), dest):
        raise RuntimeError(
            f"compact_store of {path} could not rename its staged "
            f"base to base_upto={new_upto} — a concurrent maintenance "
            "pass is rewriting the same store (stores are "
            "single-maintainer: run one compaction at a time)"
        )
    # committed — now drop the folded inputs
    if base_path is not None:
        fs.delete(Path(base_path), True)
    delete_children_upto(spark, path, "epoch=", new_upto)
    return new_upto


# --- tail compaction ---------------------------------------------------------


def _tail_tmp_name(m: int) -> str:
    return f".tailfold={m}.compacting"


def _tail_committing_name(m: int) -> str:
    return f".tailfold={m}.committing"


def _commit_tail_fold(
    spark: SparkSession, path: str, m: int, stage_name: str
) -> int:
    """Commit one COMPLETE staged tail fold: claim it with an atomic
    rename to ``.tailfold=M.committing`` (exactly one concurrent
    committer can win — Hadoop rename fails when the source vanished),
    delete the folded epoch dirs (<= M, re-listed fresh), rename the
    claim to ``epoch=M``. Both renames CHECK their return: a false
    re-lists and returns M only if a concurrent committer demonstrably
    finished (``epoch=M`` present, no stage left); anything else
    raises instead of silently proceeding past a half-commit. The one
    residual window — two processes recovering the SAME crashed
    ``.committing`` dir concurrently — is why maintenance is
    single-maintainer by contract (readers never commit; see
    :func:`store_parts`)."""
    fs, Path = hadoop_fs(spark, path)
    committing = _tail_committing_name(m)

    def _try_rename(src, dst) -> bool:
        # Hadoop FileSystem.rename signals "source vanished" as a
        # false return on HDFS but an EXCEPTION on the local fs —
        # both mean the same thing here: we did not get the rename
        try:
            return bool(fs.rename(Path(src), Path(dst)))
        except Exception:
            return False

    def _finished() -> bool:
        names = list_children(spark, path)
        return (
            f"epoch={m}" in names
            and committing not in names
            and stage_name not in names
        )

    if stage_name != committing:
        if not _try_rename(f"{path}/{stage_name}", f"{path}/{committing}"):
            if _finished():
                return m
            raise RuntimeError(
                f"tail-fold commit of {path}/{stage_name} lost its "
                "claim rename and no committed epoch is visible — a "
                "concurrent maintenance pass is mid-commit on the "
                "same store (stores are single-maintainer: run one "
                "compaction/recovery at a time)"
            )
    # delete the folded inputs — re-listed NOW (never a cached list:
    # a stale list could name a dir a concurrent pass already
    # replaced), stages excluded so only real epoch dirs are touched
    _, _, epochs = store_parts(spark, path, _subst_stages=False)
    for e, p in epochs:
        if e <= m:
            fs.delete(Path(p), True)
    if not _try_rename(f"{path}/{committing}", f"{path}/epoch={m}"):
        if _finished():
            return m
        raise RuntimeError(
            f"tail-fold commit of {path} could not rename "
            f"{committing} to epoch={m} and no committed epoch is "
            "visible — the store needs manual inspection (a "
            "concurrent maintenance pass violated the "
            "single-maintainer contract)"
        )
    return m


def recover_tail_fold(
    spark: SparkSession, path: str, discard_incomplete: bool = True
) -> int | None:
    """MAINTENANCE-path recovery of an interrupted
    :func:`compact_epochs`. A COMPLETE staged fold (``.committing``,
    or ``.compacting`` with Spark's _SUCCESS marker) contains every
    folded epoch's content, so recovery re-runs the commit
    (:func:`_commit_tail_fold`); an incomplete ``.compacting`` stage
    is discarded when ``discard_incomplete`` (the original epoch dirs
    are untouched until a commit starts, so nothing is lost either
    way) — pass False when a live writer might still be producing
    one. Only the HIGHEST complete stage commits; lower complete
    stages are discarded as duplicates (their source epochs fed the
    higher fold — the :func:`_complete_stage` argument). Readers
    don't need this: :func:`store_parts` substitutes complete stages
    non-destructively on every read. Returns the committed fold's
    epoch label, or None."""
    fs, Path = hadoop_fs(spark, path)
    names = list_children(spark, path)
    best = _complete_stage(spark, path, names)
    committed: int | None = None
    if best is not None:
        committed = _commit_tail_fold(
            spark, path, best[0], best[1].rsplit("/", 1)[-1]
        )
    for name in names:
        if not name.startswith(".tailfold="):
            continue
        full = f"{path}/{name}"
        if best is not None and full == best[1]:
            continue
        if name.endswith(".committing") or (
            name.endswith(".compacting")
            and fs.exists(Path(f"{full}/_SUCCESS"))
        ):
            fs.delete(Path(full), True)  # duplicate lower stage
        elif name.endswith(".compacting") and discard_incomplete:
            fs.delete(Path(full), True)
    return committed


def compact_epochs(
    spark: SparkSession,
    path: str,
    empty: DataFrame,
    fold: Callable[[DataFrame], DataFrame] | None = None,
    keep_recent: int = 0,
    n_files: int = 4,
) -> int | None:
    """Fold the store's epoch DELTAS (all but the ``keep_recent`` most
    recent) into one ``epoch=M`` dir, leaving the base byte-untouched
    — the incremental sibling of :func:`compact_store`, whose full
    rewrite is O(store) every time. At 100 TB the accumulated base
    dwarfs the delta tail; tail compaction bounds the read-side part
    count at O(1) deltas for O(tail) work per pass, and the occasional
    full :func:`compact_store` remains the deep-clean.

    ONLY for stores whose reads are order-free folds of the whole
    visible part set (the associative fold families: union, distinct,
    sum re-group) — relabeling epochs under the max folded number M is
    invisible to such readers (pinned in tests). Stores whose WRITE
    path reads "strictly older epoch dirs" by directory number must
    NOT tail-fold mid-stream: relabeling changes what a replayed old
    epoch would see. Crash-recoverable via :func:`recover_tail_fold`
    (the staged dir carries every folded epoch's content; the commit
    is re-runnable). Returns M, or None when fewer than two epochs
    are foldable."""
    if keep_recent < 0:
        raise ValueError(f"keep_recent must be >= 0, got {keep_recent}")
    recover_tail_fold(spark, path)
    _, upto, epochs = store_parts(spark, path)
    # max(0, ...): keep_recent > len(epochs) must protect EVERY epoch
    # (a negative slice bound would silently fold the oldest ones,
    # defeating keep_recent's replay-protection purpose)
    foldable = epochs[: max(0, len(epochs) - keep_recent)]
    if len(foldable) < 2:
        return None
    m = foldable[-1][0]
    from pyspark.sql import functions as F

    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name) for f in empty.schema
    ]
    df = spark.read.parquet(*[p for _, p in foldable]).select(*cols)
    if fold is not None:
        df = fold(df)
    fs, Path = hadoop_fs(spark, path)
    tmp = f"{path}/{_tail_tmp_name(m)}"
    fs.delete(Path(tmp), True)
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    # commit (re-runnable: recover_tail_fold performs this same walk;
    # claim rename + checked renames guard against a concurrent pass)
    return _commit_tail_fold(spark, path, m, _tail_tmp_name(m))


# --- the mergeable store ----------------------------------------------------


class MergeableStore:
    """One delta+base store directory with its whole lifecycle — the
    foreachBatch sink every incremental store family shares.

    - **write**: :meth:`write_batch` (the foreachBatch callable) skips
      an empty batch, lands :meth:`write_epoch` — by default the
      batch's :meth:`project` OVERWRITING ``epoch=N``, so a replayed
      epoch rewrites its own directory instead of appending twice (the
      idempotent half of exactly-once under a replayable source) —
      then runs :meth:`compact` every ``compact_every`` epochs;
    - **read**: :meth:`raw` (base + visible deltas, cast to ``schema``;
      ``before=N`` keeps only deltas strictly below epoch N — what a
      replay of epoch N must see) and :meth:`read` (``raw`` folded);
    - **maintain**: :meth:`compact` (:func:`compact_store`) and
      :meth:`compact_tail` (:func:`compact_epochs`), both with the
      store's own :meth:`fold`, so compaction is reader-invisible for
      every associative fold.

    A family supplies ``schema``, :meth:`project` and :meth:`fold` by
    subclassing; a sub-store of a multi-directory family passes
    ``fold`` to the constructor instead."""

    def __init__(
        self,
        path: str,
        schema: str,
        compact_every: int | None = None,
        fold: Callable[[DataFrame], DataFrame] | None = None,
        partition_by: str | None = None,
    ) -> None:
        self.path = path
        self.schema = schema
        self.compact_every = compact_every
        self.partition_by = partition_by
        if fold is not None:
            self.fold = fold

    # -- the family's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        """The rows one batch lands as its epoch delta."""
        return batch_df

    def fold(self, df: DataFrame) -> DataFrame:
        """Merge rows of several epochs (default: plain union)."""
        return df

    # -- reads --------------------------------------------------------------
    def empty(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], self.schema)

    def raw(self, spark: SparkSession, before: int | None = None) -> DataFrame:
        """Base + visible epoch deltas, unfolded (empty-safe)."""
        base_path, _, epochs = store_parts(spark, self.path)
        return _read_parts(
            spark,
            base_path,
            [p for e, p in epochs if before is None or e < before],
            self.empty(spark),
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return self.fold(self.raw(spark))

    def exists(self, spark: SparkSession) -> bool:
        base_path, _, epochs = store_parts(spark, self.path)
        return base_path is not None or bool(epochs)

    # -- writes -------------------------------------------------------------
    def write(self, df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{self.path}/epoch={epoch_id}")

    def append(self, df: DataFrame) -> None:
        """Land ``df`` as the epoch after everything on disk (for
        stores written outside the stream's epoch numbering)."""
        _, upto, epochs = store_parts(df.sparkSession, self.path)
        self.write(df, max([upto] + [e for e, _ in epochs]) + 1)

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.write(self.project(batch_df, epoch_id), epoch_id)

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        self.write_epoch(batch_df, epoch_id)
        every = self.compact_every
        if every is not None and (epoch_id + 1) % every == 0:
            self.compact(batch_df.sparkSession)

    def foreach_batch(self):
        return self.write_batch

    # -- maintenance --------------------------------------------------------
    def compact(self, spark: SparkSession) -> int | None:
        return compact_store(
            spark,
            self.path,
            self.empty(spark),
            fold=self.fold,
            partition_by=self.partition_by,
        )

    def compact_tail(
        self, spark: SparkSession, keep_recent: int = 0
    ) -> int | None:
        return compact_epochs(
            spark,
            self.path,
            self.empty(spark),
            fold=self.fold,
            keep_recent=keep_recent,
        )


def run_foreach_batch(
    stream: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    output_mode: str | None = None,
):
    """Start ``stream`` into the foreachBatch callable ``write_batch``
    — the one wiring point of every streaming store and sink. The
    checkpoint makes the source replayable and the sink (epoch-dir
    overwrite, or PK reconcile on read) makes a replayed epoch land
    once. ``trigger`` defaults to draining what is available and
    stopping (``availableNow``, the bounded replays); the reference's
    wall-clock cadence (5-second micro-batches, spark_consumer.py:210)
    is ``{"processingTime": "5 seconds"}``. Returns the started
    StreamingQuery."""
    writer = stream.writeStream.foreachBatch(write_batch)
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


# --- store doctor ------------------------------------------------------------


def store_stats(
    spark: SparkSession, path: str, count_rows: bool = False
) -> dict:
    """Operational report over one delta+base store directory — the
    maintenance view every store family shares (what a 100 TB operator
    asks before scheduling compaction):

    - ``base_upto`` / ``epochs``: the reader's visible part set;
    - ``files`` / ``bytes`` per part (Hadoop FS content summaries —
      works on file://, hdfs://, s3a://);
    - ``rows`` per part when ``count_rows=True`` (ONE Spark job over
      the visible parts, attributed by file path);
    - hygiene: ``shadowed_epochs`` (at or under the base's upto —
      replay leftovers, safe to delete), ``stale_bases`` (below the
      max upto), ``swap_leftovers`` (hidden staging dirs from an
      interrupted swap/tail-fold — run the matching recovery),
      ``stray`` (children that are neither parts nor hidden staging);
    - a one-line ``recommendation``.
    """
    fs, Path = hadoop_fs(spark, path)
    # disk truth, not the substituted reader's view: an uncommitted
    # tail-fold stage reports as a swap_leftover ("recover first"),
    # while the visible parts below are the REAL dirs (the stage's
    # folded-but-undeleted source epochs still hold the canonical
    # bytes until a maintenance pass commits)
    base_path, upto, epochs = store_parts(spark, path, _subst_stages=False)
    names = list_children(spark, path)

    def _num(name: str, prefix: str) -> int | None:
        suffix = name[len(prefix):]
        return int(suffix) if suffix.isdigit() else None

    shadowed = sorted(
        n
        for n in names
        if n.startswith("epoch=")
        and _num(n, "epoch=") is not None
        and _num(n, "epoch=") <= upto
    )
    stale_bases = sorted(
        n
        for n in names
        if n.startswith("base_upto=")
        and _num(n, "base_upto=") is not None
        and f"{path}/{n}" != base_path
    )
    swap_leftovers = sorted(
        n
        for n in names
        if n.startswith(".")
        and n.endswith((".compacting", ".committing", ".old"))
    )
    stray = sorted(
        n
        for n in names
        if not n.startswith(".")
        and not (
            (n.startswith("epoch=") and _num(n, "epoch=") is not None)
            or (
                n.startswith("base_upto=")
                and _num(n, "base_upto=") is not None
            )
        )
    )
    visible = {}
    if base_path is not None:
        visible[base_path.rsplit("/", 1)[-1]] = base_path
    visible.update({p.rsplit("/", 1)[-1]: p for _, p in epochs})
    files, nbytes = {}, {}
    for name, p in visible.items():
        summary = fs.getContentSummary(Path(p))
        files[name] = int(summary.getFileCount())
        nbytes[name] = int(summary.getLength())
    rows: dict[str, int] | None = None
    if count_rows and visible:
        from pyspark.sql import functions as F

        per_file = (
            spark.read.parquet(*visible.values())
            .groupBy(F.input_file_name().alias("f"))
            .count()
            .collect()
        )
        rows = {name: 0 for name in visible}
        for r in per_file:
            for name, p in visible.items():
                if r["f"].startswith(f"file:{p}/") or f"/{name}/" in r["f"]:
                    rows[name] += int(r["count"])
                    break
    n_epochs = len(epochs)
    if swap_leftovers:
        rec = "recover first: interrupted swap/tail-fold staging present"
    elif n_epochs >= 16:
        rec = (
            "compact_store (deep clean) or compact_epochs (tail fold): "
            f"{n_epochs} epoch deltas widen every read"
        )
    elif n_epochs >= 4:
        rec = "compact_epochs: fold the delta tail (base stays untouched)"
    elif shadowed or stale_bases:
        rec = "delete shadowed/stale parts (replay leftovers)"
    else:
        rec = "healthy: no maintenance needed"
    return {
        "base_upto": upto if base_path is not None else None,
        "epochs": [e for e, _ in epochs],
        "files": files,
        "bytes": nbytes,
        "rows": rows,
        "shadowed_epochs": shadowed,
        "stale_bases": stale_bases,
        "swap_leftovers": swap_leftovers,
        "stray": stray,
        "recommendation": rec,
    }
