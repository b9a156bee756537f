"""Fixture catalog helpers (catalog.py) that need no Spark job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from cassandra_iot_pipeline_spark.catalog import table_path, table_rows


def test_table_rows_counts_partitioned_directory(tmp_path):
    """A ``key=value`` partitioned directory dataset counts the part
    files in every partition directory, not only top-level files;
    ``_``/``.``-prefixed names are skipped, as Spark skips them."""
    sf_dir = str(tmp_path)
    root = table_path(sf_dir, "events")
    table = pa.table({"k": [1, 1, 2, 3, 3, 3], "v": [1.0] * 6})
    pq.write_to_dataset(table, root, partition_cols=["k"])
    (tmp_path / "events.parquet" / "_SUCCESS").write_text("")
    pq.write_table(
        table.slice(0, 2), str(tmp_path / "events.parquet" / "_tmp.parquet")
    )
    assert table_rows(sf_dir, "events") == 6


def test_table_rows_flat_file_and_missing_table(tmp_path):
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table({"x": list(range(5))}), table_path(sf_dir, "orders")
    )
    assert table_rows(sf_dir, "orders") == 5
    assert table_rows(sf_dir, "nation") is None
