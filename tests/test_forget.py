"""Store-directory hygiene for in-place store rewrites: a swap or an
interrupted rewrite of a store directory can leave siblings such as
``epoch=1.old`` or ``base_upto=0.compacting`` next to the real parts,
and store.py::store_parts must skip them instead of parsing their
suffix as a part number."""

from __future__ import annotations

import os

SCHEMA = "user_id BIGINT, cnt BIGINT"

BATCHES = [
    [(1, 2), (2, 1)],
    [(1, 1), (3, 5)],
    [(3, 1), (2, 4)],
]


def test_store_parts_skip_stray_siblings(spark, tmp_path):
    """store_parts must ignore directory names whose suffix is not a
    pure integer (swap or rewrite leftovers, editor
    droppings) instead of raising ValueError."""
    from cassandra_iot_pipeline_spark.store import store_parts

    store = str(tmp_path / "store")
    for i, rows in enumerate(BATCHES):
        spark.createDataFrame(rows, SCHEMA).write.parquet(f"{store}/epoch={i}")
    os.makedirs(f"{store}/epoch=1.old")
    os.makedirs(f"{store}/base_upto=0.compacting")
    base_path, upto, epochs = store_parts(spark, store)
    assert base_path is None and upto == -1
    assert [e for e, _ in epochs] == [0, 1, 2]
