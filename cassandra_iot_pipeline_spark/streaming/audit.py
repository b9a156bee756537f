"""Continuous data-quality auditing — the streaming form of
``functions/expectations.py``: every micro-batch runs the declared
checks (one aggregation over the batch) and lands its k-row report as
an epoch delta, so the store is a time series of quality metrics —
the drift monitor a production ingest runs next to the pipeline
(think "completeness of user_id by epoch" plotted on the ops
dashboard; a null flood shows up as a metric cliff at its epoch).

Per-epoch semantics, deliberately: each report row describes ONE
micro-batch (batch-local metrics), not the accumulated corpus —
drift detection wants the per-epoch series (a corpus-cumulative
fraction dilutes a sudden null flood by history). For corpus-level
audits run the batch operator over the landed table.

Store shape (the shared delta+base lifecycle, store.py):

- ``<dir>/reports/epoch=N/``      the epoch's own k-row report
- ``<dir>/reports/base_upto=K/``  at most one compacted base (fold =
  identity distinct on (epoch, check) — rows are keyed facts)

Idempotence: the report is a deterministic aggregate of the batch's
content, so replaying an epoch rewrites identical rows.

Scale: the write path is ONE aggregation over the batch (map-side
partials, a 1-row exchange) plus a k-row write; the store grows k
rows per epoch forever — compaction keeps the directory count
bounded; the data volume is negligible by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expectations import Check, expectations_report
from ..store import MergeableStore, run_foreach_batch
from .staging import read_staged

_SCHEMA = (
    "epoch BIGINT, check_name STRING, target STRING, metric DOUBLE,"
    " threshold DOUBLE, passed BOOLEAN"
)


class AuditPipeline(MergeableStore):
    """foreachBatch-shaped quality monitor; see module docstring.
    ``write_batch`` per epoch, then :meth:`history` for the metric
    time series or :meth:`failures` for the alert view."""

    def __init__(
        self,
        base_dir: str,
        checks: list[Check],
        compact_every: int | None = None,
    ) -> None:
        if not checks:
            raise ValueError("need at least one check")
        super().__init__(f"{base_dir}/reports", _SCHEMA, compact_every)
        self.base_dir = base_dir
        self.checks = list(checks)
        self.reports_dir = self.path

    # -- reads ----------------------------------------------------------
    def history(self, spark: SparkSession) -> DataFrame:
        """(epoch, check_name, target, metric, threshold, passed):
        the per-epoch metric series (empty-safe)."""
        return self.read(spark)

    def failures(self, spark: SparkSession) -> DataFrame:
        """Epochs/checks that failed (passed false or NULL-metric
        value checks) — the alert feed."""
        return self.history(spark).filter(
            ~F.coalesce(F.col("passed"), F.lit(False))
        )

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        return expectations_report(batch_df, self.checks).select(
            F.lit(int(epoch_id)).alias("epoch"),
            "check_name",
            "target",
            "metric",
            "threshold",
            "passed",
        )

    def fold(self, df: DataFrame) -> DataFrame:
        return df.distinct()


def streaming_audit(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    checks: list[Check],
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged event-log directory through the audit (file order
    = ingest order, the streaming/dedup.py convention). Returns the
    started StreamingQuery; read the series with
    ``AuditPipeline(base_dir, checks).history(spark)``."""
    pipe = AuditPipeline(base_dir, checks, compact_every=compact_every)
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
