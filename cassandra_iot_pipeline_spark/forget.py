"""Key-deletion propagation ("right to be forgotten") across the
engine's at-rest surfaces: plain parquet tables and the delta+base
incremental stores.

Why a first-class job: at 100 TB a deletion request must NOT become a
full-corpus rewrite. The shape here is hit-directed — ONE labeled scan
of the target counts matching rows per physical part (the deletion key
set rides along broadcast; parts with zero hits are never rewritten),
then only the hit parts are rewritten with a broadcast anti-join and
swapped in with the crash-recoverable two-rename discipline
(storage.py::commit_swap). A quarterly deletion batch over a
10,000-part store touches exactly the parts that contain the users.

Store semantics: epoch deltas are overwrite-idempotent, so rewriting
one with fewer rows is invisible to every reader (read_store just
lists dirs). Two honest caveats, stated rather than papered over:

- **replays resurrect**: an at-least-once source replaying an already
  forgotten epoch re-lands the key's rows. Run deletion after the
  affected epochs are durably ingested, and re-run on a cadence — the
  standard operating posture for deletion jobs on append pipelines.
- **sketch-grained stores can't forget row-wise**: an HLL sketch
  (streaming/cardinality.py) or a folded count row is an aggregate
  that a single key cannot be subtracted from.
  :func:`forget_keys_in_store` targets row-grained stores (cohort
  points, SCD2 dims, ANN codes), where each stored row carries the
  key; sketch-grained stores make the limit EXECUTABLE instead:
  ``CardinalityPipeline.rebuild_from_source`` re-derives the whole
  store from the retained source in one pass over
  :func:`replace_store_dir`'s atomic whole-store swap (estimates
  afterwards equal a from-scratch build on the retained corpus —
  pinned in tests).

The swap helpers are the local-filesystem pair shared with the
compaction jobs; on object stores quiesce writers around the swap
(the store.py S3 note applies verbatim).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import _swap_paths, commit_swap, recover_swap
from .store import recover_tail_fold, store_parts


def _keyset(keys: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    return F.broadcast(keys.select(*key_cols).distinct())


def recover_store_swaps(store_dir: str) -> list[str]:
    """Finish any interrupted part swap inside ``store_dir`` BEFORE the
    parts are listed. A crash between :func:`storage.commit_swap`'s two
    renames leaves the part missing with its only copies in the hidden
    ``.name.compacting`` / ``.name.old`` siblings; recovering here makes
    a re-run of :func:`forget_keys_in_store` see the store whole again.
    Returns the part names recovered (for the report/logs)."""
    import os

    if not os.path.isdir(store_dir):
        return []
    recovered: list[str] = []
    for child in os.listdir(store_dir):
        for suffix in (".compacting", ".old"):
            if child.startswith(".") and child.endswith(suffix):
                part = child[1 : -len(suffix)]
                recover_swap(os.path.join(store_dir, part))
                recovered.append(part)
                break
    return recovered


def replace_store_dir(
    spark: SparkSession, store_dir: str, frame: DataFrame, epoch_col: str = "epoch"
) -> None:
    """Atomically replace a WHOLE delta+base store directory with a
    freshly derived set of epoch deltas — the rebuild primitive behind
    the sketch-grained stores' ``rebuild_from_source``. One
    partitionBy(epoch) write lands every ``epoch=N`` dir in one pass
    (partition dirs ARE the store layout; the epoch column lives in
    the dir name, matching how the pipelines land epochs), then the
    two-rename swap commits it. Any previous base is dropped by
    design: a base folded from pre-deletion epochs still contains the
    forgotten keys' contribution."""
    import os

    # the on-disk layout contract is literal 'epoch=N' dir names
    # (store_parts recognizes nothing else): partitionBy names dirs
    # after the COLUMN, so a differently-named epoch column must be
    # renamed before the write — otherwise the swapped-in store would
    # list zero parts and read back silently empty
    if epoch_col != "epoch":
        if "epoch" in frame.columns:
            raise ValueError(
                f"replace_store_dir: frame already has an 'epoch' column "
                f"alongside epoch_col={epoch_col!r} — the rename to the "
                "store layout's literal 'epoch=' dirs would be ambiguous"
            )
        frame = frame.withColumnRenamed(epoch_col, "epoch")
        epoch_col = "epoch"
    if os.path.exists(store_dir) or any(
        os.path.exists(p) for p in _swap_paths(store_dir)
    ):
        recover_swap(store_dir)
    tmp, _ = _swap_paths(store_dir)
    (
        frame.repartition(F.col(epoch_col))
        .write.mode("overwrite")
        .partitionBy(epoch_col)
        .parquet(tmp)
    )
    if os.path.exists(store_dir):
        commit_swap(store_dir)
    else:
        os.rename(tmp, store_dir)


def forget_keys_in_table(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: Sequence[str],
    partition_by: str | None = None,
) -> dict:
    """Remove every row of the parquet dataset at ``path`` whose
    ``key_cols`` match a row of ``keys``. Returns
    ``{"rows_removed": n, "rewritten": bool}``.

    Two scans when there are hits, ONE when there are none: the hit
    count comes from a broadcast semi-join (no shuffle — the key set
    ships to the scan), and a zero count skips the rewrite entirely,
    so the no-op case costs one read and zero writes. ``partition_by``
    preserves a partitioned layout through the rewrite."""
    key_cols = list(key_cols)
    recover_swap(path)
    df = spark.read.parquet(path)
    ks = _keyset(keys, key_cols)
    removed = df.join(ks, key_cols, "semi").count()
    if removed == 0:
        return {"rows_removed": 0, "rewritten": False}
    kept = df.join(ks, key_cols, "left_anti")
    tmp, _ = _swap_paths(path)
    if partition_by is not None:
        writer = kept.repartition(partition_by).write.mode(
            "overwrite"
        ).partitionBy(partition_by)
    else:
        writer = kept.write.mode("overwrite")
    writer.parquet(tmp)
    commit_swap(path)
    return {"rows_removed": int(removed), "rewritten": True}


def forget_keys_in_store(
    spark: SparkSession,
    store_dir: str,
    keys: DataFrame,
    key_cols: Sequence[str],
    base_partition_by: str | None = None,
) -> list[dict]:
    """Remove every row matching ``keys`` from a delta+base store
    (store.py layout): hit-count each visible part in ONE labeled
    scan, rewrite ONLY the parts with hits, swap each in atomically.
    Returns one report dict per visible part:
    ``{"part": name, "rows_removed": n, "rewritten": bool}`` —
    removal accounting in the curation-report tradition.

    ``base_partition_by`` re-lays a partitioned base (e.g. the ANN
    store's ``lst=`` inverted lists) through its rewrite; epoch deltas
    are always written flat, matching how the pipelines land them."""
    key_cols = list(key_cols)
    recover_store_swaps(store_dir)
    # a maintenance op: commit any crashed tail fold FIRST so the
    # rewrite below targets real epoch dirs, never a substituted stage
    # (a reader's store_parts view may include one — rewriting it in
    # place would race its eventual commit)
    recover_tail_fold(spark, store_dir)
    base_path, _, epochs = store_parts(spark, store_dir)
    parts: list[tuple[str, str, bool]] = []
    if base_path is not None:
        parts.append((base_path.rsplit("/", 1)[-1], base_path, True))
    parts.extend((p.rsplit("/", 1)[-1], p, False) for _, p in epochs)
    if not parts:
        return []
    ks = _keyset(keys, key_cols)
    labeled = None
    for name, p, _ in parts:
        piece = (
            spark.read.parquet(p)
            .select(*key_cols)
            .withColumn("_part", F.lit(name))
        )
        labeled = piece if labeled is None else labeled.unionByName(piece)
    hits = {
        r["_part"]: r["n"]
        for r in labeled.join(ks, key_cols, "semi")
        .groupBy("_part")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    report: list[dict] = []
    for name, p, is_base in parts:
        n = int(hits.get(name, 0))
        if n == 0:
            report.append(
                {"part": name, "rows_removed": 0, "rewritten": False}
            )
            continue
        recover_swap(p)
        kept = spark.read.parquet(p).join(ks, key_cols, "left_anti")
        tmp, _ = _swap_paths(p)
        if is_base and base_partition_by is not None:
            writer = kept.repartition(base_partition_by).write.mode(
                "overwrite"
            ).partitionBy(base_partition_by)
        else:
            writer = kept.write.mode("overwrite")
        writer.parquet(tmp)
        commit_swap(p)
        report.append({"part": name, "rows_removed": n, "rewritten": True})
    return report
