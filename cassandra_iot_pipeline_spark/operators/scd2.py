"""Slowly-changing-dimension (SCD type 2) history — the
dimension-history operator the reference's schema implies but never
implements.

The reference ships a ``devices`` dimension with ``last_updated``
(reference: iot-cassandra-pipeline/cassandra/init.cql:63-74) and
denormalizes device attributes into each event instead of joining
(producer.py:157-165; rationale docs/baseline-architecture.md:238-239).
That works until an attribute CHANGES: the events stamped before the
change carry the old value, the dimension row only remembers the
newest, and any backfill or re-enrichment silently rewrites history.
The warehouse-standard answer is SCD2 — keep every attribute version
with a validity interval; an as-of lookup (operators/asof.py) over
the versions' ``valid_from`` then finds the version valid AT a fact's
own time.

Operator (pure Catalyst, one shuffle on the key):

- :func:`scd2_snapshot` — build the versioned dimension from an
  update/change log: per key, order by time, keep rows whose tracked
  attributes differ (null-safely) from their predecessor, close each
  version with the next version's start. No-op updates collapse, so
  an at-least-once upstream (the reference's Kafka posture) cannot
  inflate history.

Validity intervals are ``[valid_from_us, valid_to_us)`` epoch-micros
(exclusive end; NULL end = current). Determinism: updates are ordered
by (time, seq_col) when a tiebreak column is given; without one, ties
on (key, time) are rejected in-plan (raise_error) rather than silently
picking a version — the gap-fill ``on_long_gap='error'`` posture.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _keys(key: str | Sequence[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def scd2_snapshot(
    updates: DataFrame,
    key: str | Sequence[str] = "user_id",
    attrs: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    seq_col: str | None = None,
) -> DataFrame:
    """(key..., attrs..., valid_from_us, valid_to_us, is_current):
    the SCD2 version table of an update log. Consecutive updates with
    null-safely identical tracked attributes collapse into one version
    (the FIRST update's timestamp opens it); ``valid_to_us`` is the
    next version's ``valid_from_us`` (exclusive), NULL while current.

    One shuffle when ``seq_col`` orders ties (the change-detection lag
    and the version-closing lead share the per-key clustering); the
    seq-less path adds one more window pass for the in-plan ambiguity
    guard — a key carrying two updates at one timestamp fails loudly
    (raise_error) instead of emitting an arbitrary version order."""
    keys = _keys(key)
    attr_cols = list(attrs)
    t_us = F.unix_micros(F.col(ts_col))
    order = [F.col("_t_us")] + ([F.col(seq_col)] if seq_col else [])
    base = updates.select(
        *keys, *attr_cols, t_us.alias("_t_us"),
        *([seq_col] if seq_col else []),
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    if seq_col is None:
        # in-plan ambiguity guard: the window above is only
        # deterministic when (key, ts) is unique. Folded into _t_us
        # (x * 1 == x) so it is load-bearing on EVERY row — a bare
        # unused column would be pruned away (the bloom meta-guard
        # pattern, functions/bloom.py).
        dup = F.count(F.lit(1)).over(
            Window.partitionBy(*keys, "_t_us")
        )
        guard = F.when(
            dup > 1,
            F.raise_error(
                F.format_string(
                    "scd2_snapshot: %d updates share one (key, "
                    f"{ts_col}) — pass seq_col to order ties",
                    dup,
                )
            ),
        ).otherwise(F.lit(1).cast("long"))
        base = base.withColumn("_t_us", F.col("_t_us") * guard)
    a_struct = F.struct(*[F.col(c) for c in attr_cols])
    changed = ~a_struct.eqNullSafe(F.lag(a_struct).over(w))
    versions = (
        base.withColumn("_chg", changed)
        .filter(F.col("_chg"))
        .select(*keys, *attr_cols, F.col("_t_us").alias("valid_from_us"),
                *([seq_col] if seq_col else []))
    )
    worder = [F.col("valid_from_us")] + (
        [F.col(seq_col)] if seq_col else []
    )
    wv = Window.partitionBy(*keys).orderBy(*worder)
    out = versions.select(
        *keys,
        *attr_cols,
        "valid_from_us",
        F.lead("valid_from_us").over(wv).alias("valid_to_us"),
    )
    return out.withColumn("is_current", F.col("valid_to_us").isNull())


def scd2_snapshot_oracle(
    table: str = "events",
    keys: Sequence[str] = ("user_id",),
    attrs: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    seq_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`scd2_snapshot` — same null-safe
    field-wise change detection (IS DISTINCT FROM), same window
    order, same epoch-micros intervals."""
    ks = ", ".join(keys)
    a_cols = ", ".join(attrs)
    order = f"t_us{', ' + seq_col if seq_col else ''}"
    chg = " OR ".join(
        f"{a} IS DISTINCT FROM LAG({a}) OVER w" for a in attrs
    )
    seq_sel = f", {seq_col}" if seq_col else ""
    return f"""
        WITH log AS (
            SELECT {ks}, {a_cols}, epoch_us({ts_col}) AS t_us{seq_sel}
            FROM {table}
        ),
        flagged AS (
            SELECT {ks}, {a_cols}, t_us{seq_sel},
                   (LAG(1) OVER w IS NULL) OR {chg} AS chg
            FROM log
            WINDOW w AS (PARTITION BY {ks} ORDER BY {order})
        ),
        versions AS (
            SELECT {ks}, {a_cols}, t_us AS valid_from_us{seq_sel}
            FROM flagged WHERE chg
        )
        SELECT {ks}, {a_cols}, valid_from_us,
               LEAD(valid_from_us) OVER wv AS valid_to_us,
               LEAD(valid_from_us) OVER wv IS NULL AS is_current
        FROM versions
        WINDOW wv AS (PARTITION BY {ks}
                      ORDER BY valid_from_us{', ' + seq_col if seq_col else ''})
    """
