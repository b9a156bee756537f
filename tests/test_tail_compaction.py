"""Tail compaction (store.py::compact_epochs): folds the delta tail
into one epoch dir WITHOUT touching the base — reader-invisible for
an associative fold (bitwise for the sum fold), byte-untouched base,
keep_recent semantics, and crash recovery in both directions
(complete stage re-commits, incomplete stage is discarded
losslessly)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cassandra_iot_pipeline_spark.store import (
    compact_epochs,
    compact_store,
    read_store,
    recover_tail_fold,
    store_parts,
)

SCHEMA = "k BIGINT, cnt BIGINT"


def _sum_fold(df):
    return df.groupBy("k").agg(F.sum("cnt").alias("cnt"))


def _write_epochs(spark, store, batches, start=0):
    for i, rows in enumerate(batches, start=start):
        spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
            f"{store}/epoch={i}"
        )


def _folded_read(spark, store):
    return sorted(
        tuple(r)
        for r in _sum_fold(
            read_store(spark, store, spark.createDataFrame([], SCHEMA))
        ).collect()
    )


BATCHES = [
    [(1, 2), (2, 1)],
    [(1, 1), (3, 5)],
    [(2, 4)],
    [(3, 1), (4, 7)],
]


def test_tail_fold_is_reader_invisible_and_base_untouched(spark, tmp_path):
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES[:2])
    # a compacted base, then two more epochs on top
    empty = spark.createDataFrame([], SCHEMA)
    assert compact_store(spark, store, empty, fold=_sum_fold) == 1
    _write_epochs(spark, store, BATCHES[2:], start=2)
    before = _folded_read(spark, store)
    base = f"{store}/base_upto=1"
    mtimes = {f: os.path.getmtime(os.path.join(base, f)) for f in os.listdir(base)}

    assert compact_epochs(spark, store, empty, fold=_sum_fold) == 3
    assert _folded_read(spark, store) == before
    # base byte-untouched; epoch tail now a single dir
    assert {
        f: os.path.getmtime(os.path.join(base, f)) for f in os.listdir(base)
    } == mtimes
    _, upto, epochs = store_parts(spark, store)
    assert upto == 1 and [e for e, _ in epochs] == [3]


def test_keep_recent_leaves_newest_deltas(spark, tmp_path):
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    empty = spark.createDataFrame([], SCHEMA)
    before = _folded_read(spark, store)
    assert compact_epochs(
        spark, store, empty, fold=_sum_fold, keep_recent=1
    ) == 2
    assert _folded_read(spark, store) == before
    _, _, epochs = store_parts(spark, store)
    assert [e for e, _ in epochs] == [2, 3]
    # fewer than two foldable -> no-op
    assert compact_epochs(
        spark, store, empty, fold=_sum_fold, keep_recent=1
    ) is None


def test_keep_recent_past_the_tail_is_a_noop(spark, tmp_path):
    """keep_recent larger than the epoch count must protect EVERY
    epoch (the negative-slice bound would silently fold the OLDEST
    ones — the exact inversion of its replay-protection purpose)."""
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    empty = spark.createDataFrame([], SCHEMA)
    assert compact_epochs(
        spark, store, empty, fold=_sum_fold, keep_recent=7
    ) is None
    _, _, epochs = store_parts(spark, store)
    assert [e for e, _ in epochs] == [0, 1, 2, 3]
    import pytest

    with pytest.raises(ValueError, match="keep_recent"):
        compact_epochs(spark, store, empty, fold=_sum_fold, keep_recent=-1)


def test_read_path_substitutes_a_complete_stage_nondestructively(
    spark, tmp_path
):
    """A crash BETWEEN compact_epochs' epoch deletes and its rename
    must not leave readers undercounting: store_parts (hence every
    read_store / pipeline read) SUBSTITUTES the complete stage for the
    epochs it folded — correct totals however far the crashed commit
    got — WITHOUT mutating the store (the r10 read-path commit let two
    concurrent readers interleave destructively; readers are now
    pure). The next maintenance pass commits."""
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    before = _folded_read(spark, store)
    staged = _sum_fold(
        spark.read.parquet(*[f"{store}/epoch={e}" for e in range(3)])
    )
    staged.write.mode("overwrite").parquet(f"{store}/.tailfold=2.compacting")
    import shutil

    shutil.rmtree(f"{store}/epoch=0")
    shutil.rmtree(f"{store}/epoch=1")  # crash right before the rename
    # a plain READ sees the correct totals at EVERY crash point...
    assert _folded_read(spark, store) == before
    # ...and does NOT touch the store (non-destructive: the stage and
    # the remaining source epoch are both still on disk)
    assert os.path.exists(f"{store}/.tailfold=2.compacting")
    assert os.path.exists(f"{store}/epoch=2")
    _, _, epochs = store_parts(spark, store)
    assert [e for e, _ in epochs] == [2, 3]
    assert epochs[0][1].endswith(".tailfold=2.compacting")
    # deeper crash: the last folded source epoch is gone too
    shutil.rmtree(f"{store}/epoch=2")
    assert _folded_read(spark, store) == before
    # maintenance commits; reads unchanged bitwise
    assert recover_tail_fold(spark, store) == 2
    assert not os.path.exists(f"{store}/.tailfold=2.compacting")
    assert _folded_read(spark, store) == before
    _, _, epochs = store_parts(spark, store)
    assert [(e, p.rsplit("/", 1)[-1]) for e, p in epochs] == [
        (2, "epoch=2"),
        (3, "epoch=3"),
    ]


def test_read_path_substitutes_a_mid_commit_claim(spark, tmp_path):
    """A crash between the commit's claim rename and its final rename
    leaves ``.tailfold=M.committing`` — complete by construction, so
    reads substitute it exactly like a staged fold."""
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    before = _folded_read(spark, store)
    staged = _sum_fold(
        spark.read.parquet(*[f"{store}/epoch={e}" for e in range(3)])
    )
    staged.write.mode("overwrite").parquet(f"{store}/.tailfold=2.committing")
    import shutil

    for e in range(3):
        shutil.rmtree(f"{store}/epoch={e}")
    assert _folded_read(spark, store) == before
    assert os.path.exists(f"{store}/.tailfold=2.committing")
    # maintenance finishes the crashed commit
    assert recover_tail_fold(spark, store) == 2
    assert _folded_read(spark, store) == before
    assert not os.path.exists(f"{store}/.tailfold=2.committing")
    assert os.path.exists(f"{store}/epoch=2")


def test_commit_tolerates_a_finished_concurrent_committer(spark, tmp_path):
    """_commit_tail_fold whose stage vanished: if the committed
    epoch is visible the concurrent committer finished (return M);
    if nothing is visible it must raise loudly, never proceed to the
    delete loop (the r10 interleaving deleted the winner's freshly
    committed fold and lost it)."""
    import pytest

    from cassandra_iot_pipeline_spark.store import _commit_tail_fold

    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    before = _folded_read(spark, store)
    staged = _sum_fold(
        spark.read.parquet(*[f"{store}/epoch={e}" for e in range(3)])
    )
    staged.write.mode("overwrite").parquet(f"{store}/.tailfold=2.compacting")
    # winner commits
    assert recover_tail_fold(spark, store) == 2
    # loser wakes up with a stale view and tries to commit the (now
    # vanished) stage: epoch=2 is visible -> graceful return
    assert _commit_tail_fold(
        spark, store, 2, ".tailfold=2.compacting"
    ) == 2
    assert _folded_read(spark, store) == before
    assert os.path.exists(f"{store}/epoch=2")  # winner's fold intact
    # no stage, no committed epoch -> loud failure
    with pytest.raises(RuntimeError, match="single-maintainer"):
        _commit_tail_fold(spark, store, 9, ".tailfold=9.compacting")


def test_read_path_leaves_an_incomplete_stage_alone(spark, tmp_path):
    """An incomplete stage (no _SUCCESS) may belong to a LIVE writer:
    the read path must neither commit nor delete it — only
    compact_epochs' own recovery discards it."""
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    before = _folded_read(spark, store)
    os.makedirs(f"{store}/.tailfold=2.compacting")
    with open(f"{store}/.tailfold=2.compacting/part-000.parquet", "w") as fh:
        fh.write("partial")
    assert _folded_read(spark, store) == before
    assert os.path.exists(f"{store}/.tailfold=2.compacting")
    _, _, epochs = store_parts(spark, store)
    assert [e for e, _ in epochs] == [0, 1, 2, 3]


def test_recovery_completes_a_staged_fold(spark, tmp_path):
    """Crash AFTER the stage finished and SOME folded dirs were
    deleted: recovery re-runs the commit from the complete stage."""
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    empty = spark.createDataFrame([], SCHEMA)
    before = _folded_read(spark, store)
    # stage the fold of epochs 0..2 exactly as compact_epochs would
    staged = _sum_fold(
        spark.read.parquet(*[f"{store}/epoch={e}" for e in range(3)])
    )
    staged.write.mode("overwrite").parquet(f"{store}/.tailfold=2.compacting")
    import shutil

    shutil.rmtree(f"{store}/epoch=0")  # partial commit, then crash
    assert recover_tail_fold(spark, store) == 2
    assert _folded_read(spark, store) == before
    _, _, epochs = store_parts(spark, store)
    assert [e for e, _ in epochs] == [2, 3]


def test_recovery_discards_an_incomplete_stage(spark, tmp_path):
    """Crash MID-STAGE (no _SUCCESS): the original epochs are still
    whole — recovery deletes the partial stage, nothing else."""
    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    before = _folded_read(spark, store)
    os.makedirs(f"{store}/.tailfold=2.compacting")
    with open(f"{store}/.tailfold=2.compacting/part-000.parquet", "w") as fh:
        fh.write("partial")
    assert recover_tail_fold(spark, store) is None
    assert not os.path.exists(f"{store}/.tailfold=2.compacting")
    assert _folded_read(spark, store) == before
    _, _, epochs = store_parts(spark, store)
    assert [e for e, _ in epochs] == [0, 1, 2, 3]


def test_store_stats_doctor(spark, tmp_path):
    """store_stats reports the visible part set, per-part files/bytes,
    per-part rows (one job), hygiene findings (shadowed epochs, stale
    bases, swap leftovers, stray children), and a sensible
    recommendation at each lifecycle stage."""
    from cassandra_iot_pipeline_spark.store import store_stats

    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES[:2])
    empty = spark.createDataFrame([], SCHEMA)
    st = store_stats(spark, store, count_rows=True)
    assert st["base_upto"] is None and st["epochs"] == [0, 1]
    assert st["rows"] == {"epoch=0": 2, "epoch=1": 2}
    assert all(v > 0 for v in st["bytes"].values())
    assert "healthy" in st["recommendation"]

    # grow a delta tail -> tail-fold recommendation
    _write_epochs(spark, store, BATCHES + BATCHES, start=2)
    st = store_stats(spark, store)
    assert len(st["epochs"]) == 10
    assert "compact_epochs" in st["recommendation"]

    # compact, then plant hygiene problems
    assert compact_store(spark, store, empty, fold=_sum_fold) == 9
    os.makedirs(f"{store}/epoch=3")  # shadowed replay leftover
    os.makedirs(f"{store}/garbage")  # stray
    os.makedirs(f"{store}/.epoch=9.old")  # swap leftover
    st = store_stats(spark, store)
    assert st["base_upto"] == 9 and st["epochs"] == []
    assert st["shadowed_epochs"] == ["epoch=3"]
    assert st["stray"] == ["garbage"]
    assert st["swap_leftovers"] == [".epoch=9.old"]
    assert "recover first" in st["recommendation"]


def test_substring_store_compact_tail(spark, tmp_path):
    """The multi-store substring family: a tail fold of its gram
    counts (sum fold) leaves the marks unchanged."""
    from cassandra_iot_pipeline_spark.streaming.substrings import (
        SubstringDedupPipeline,
    )

    docs = [
        [(1, "the quick brown fox jumps over the lazy dog today ok")],
        [(2, "the quick brown fox jumps over the lazy dog today no")],
        [(3, "an entirely different document with fresh words here")],
    ]
    sub = SubstringDedupPipeline(str(tmp_path / "sub"), k=8)
    for i, rows in enumerate(docs):
        frame = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        sub.write_batch(frame, epoch_id=i)

    sub_before = sorted(map(tuple, sub.curated(spark).collect()))
    assert sub.compact_tail(spark)["grams"] == 2
    assert sorted(map(tuple, sub.curated(spark).collect())) == sub_before

def test_multiple_complete_stages_max_wins_lower_discarded(spark, tmp_path):
    """Out-of-contract but defended: TWO complete stages (a lower one
    whose commit never started, then a higher one folded from a
    listing that still included the lower's source epochs). Readers
    substitute only the MAX stage (its fold subsumes the lower's
    sources); recovery commits the max and discards the lower as a
    duplicate; the doctor reports both as swap leftovers before the
    recovery."""
    from cassandra_iot_pipeline_spark.store import store_stats

    store = str(tmp_path / "s")
    _write_epochs(spark, store, BATCHES)
    before = _folded_read(spark, store)
    low = _sum_fold(
        spark.read.parquet(*[f"{store}/epoch={e}" for e in range(2)])
    )
    low.write.mode("overwrite").parquet(f"{store}/.tailfold=1.compacting")
    high = _sum_fold(
        spark.read.parquet(*[f"{store}/epoch={e}" for e in range(3)])
    )
    high.write.mode("overwrite").parquet(f"{store}/.tailfold=2.committing")
    # reads: only the max stage substitutes
    assert _folded_read(spark, store) == before
    _, _, epochs = store_parts(spark, store)
    assert [e for e, _ in epochs] == [2, 3]
    assert epochs[0][1].endswith(".tailfold=2.committing")
    # doctor sees both leftovers (disk truth, not the reader's view)
    st = store_stats(spark, store)
    assert st["swap_leftovers"] == [
        ".tailfold=1.compacting",
        ".tailfold=2.committing",
    ]
    assert "recover first" in st["recommendation"]
    # recovery: max commits, lower is discarded as a duplicate
    assert recover_tail_fold(spark, store) == 2
    assert not os.path.exists(f"{store}/.tailfold=1.compacting")
    assert not os.path.exists(f"{store}/.tailfold=2.committing")
    assert _folded_read(spark, store) == before
    _, _, epochs = store_parts(spark, store)
    assert [(e, p.rsplit("/", 1)[-1]) for e, p in epochs] == [
        (2, "epoch=2"),
        (3, "epoch=3"),
    ]
