"""Primary-key upsert semantics (SURVEY.md §2.K, K3).

Cassandra writes are last-write-wins upserts on the primary key
(reference: iot-cassandra-pipeline/cassandra/init.cql:25, 48 — PK
``(device_id, timestamp)`` / ``(device_id, hour_bucket)``); re-emitted
rows silently overwrite, which is what makes the reference's
at-least-once ``foreachBatch`` sink effectively idempotent.

A columnar store has no in-place upsert, so the engine provides the same
semantics LSM-style: writes append, reads reconcile.

- **dedup-on-read** (here): keep the latest version per PK with a
  ranking window — one shuffle on the PK, no driver involvement;
- **append + dedup-on-read** (streaming/sinks.py): each micro-batch
  appends its rows stamped with its epoch, every read keeps the
  max-epoch row per PK through :func:`latest_by_pk`, and compaction
  folds the log back to one row per PK.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_by_pk(
    df: DataFrame,
    pk: Sequence[str],
    version_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Last-write-wins: one row per PK, keeping the max ``version_col``
    (ties broken by ``tiebreak`` columns, then arbitrary-but-deterministic).
    """
    order = [F.col(version_col).desc()] + [F.col(c).desc() for c in tiebreak]
    w = Window.partitionBy(*pk).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def last_event_per_user_type(events: DataFrame) -> DataFrame:
    """K3 exercised on the fixtures: PK = (user_id, event_type), version
    = ts — "current state per device per signal", the exact read
    Cassandra's last-write-wins storage serves."""
    deduped = latest_by_pk(
        events, pk=("user_id", "event_type"), version_col="ts", tiebreak=("event_id",)
    )
    return deduped.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "value",
    )


def last_event_per_user_type_oracle() -> str:
    return """
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value
        FROM (
            SELECT user_id, event_type, ts, event_id, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        WHERE rn = 1
    """
