"""Watermark-lateness accounting — the tuning tool for the
reference's one explicit streaming trade-off: `withWatermark("1
minute")` (reference: iot-cassandra-pipeline/src/spark_consumer.py:
171-172) silently drops every event that arrives more than a minute
behind the max event time, and nothing in the reference MEASURES how
many that is. This monitor answers "what would each candidate delay
have dropped?" from the stream itself, per epoch.

Per epoch: the watermark the engine would hold BEFORE this batch is
the max event time over STRICTLY earlier epochs (a replayed epoch
must not see its own first attempt, which also makes the report
idempotent under replay);
the batch's events are then counted against ``wm_before - delay`` for
each candidate delay. A row lands per epoch:
(epoch, wm_before_us, n, dropped@delay..., max_lag_us, batch_max_us).

This is deliberately an OFFLINE accounting of the watermark contract,
not a re-implementation of it: Spark's own watermark advances with
executor-observed maxima mid-batch; the per-epoch prior-max form here
is the reproducible, replayable approximation a tuning decision needs
(and is exactly right for the engine's availableNow file-replay
posture, where batches are the observation unit).

Store shape (store.py lifecycle): rows keyed (epoch); fold =
distinct. Write-path cost: one bounded read of the store's per-epoch
maxima (one row per epoch, compaction keeps the union shallow) + one
aggregation over the batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..store import MergeableStore

#: candidate watermark delays to account against, seconds
DEFAULT_DELAYS = (60, 600, 3600)


class LatenessPipeline(MergeableStore):
    """foreachBatch-shaped lateness monitor; see module docstring.
    ``write_batch`` per epoch, then :meth:`history` for the series or
    :meth:`recommendation` for the smallest candidate delay whose
    total drop rate is under a tolerance."""

    def __init__(
        self,
        base_dir: str,
        ts_col: str = "ts",
        delays_s: Sequence[int] = DEFAULT_DELAYS,
        compact_every: int | None = None,
    ) -> None:
        self.delays_s = list(delays_s)
        drops = ", ".join(
            f"dropped_{d}s BIGINT" for d in self.delays_s
        )
        super().__init__(
            f"{base_dir}/reports",
            f"epoch BIGINT, wm_before_us BIGINT, n BIGINT, {drops},"
            " max_lag_us BIGINT, batch_max_us BIGINT",
            compact_every,
        )
        self.base_dir = base_dir
        self.ts_col = ts_col
        self.reports_dir = self.path

    # -- reads ----------------------------------------------------------
    def history(self, spark: SparkSession) -> DataFrame:
        return self.read(spark)

    def recommendation(
        self, spark: SparkSession, max_drop_rate: float = 0.001
    ) -> dict:
        """The smallest candidate delay whose corpus-wide drop rate is
        at or under ``max_drop_rate`` (None when even the largest
        candidate exceeds it), plus the measured rate per candidate —
        one bounded aggregation over the epoch-count store."""
        aggs = [F.sum("n").alias("n")] + [
            F.sum(f"dropped_{d}s").alias(f"d{d}") for d in self.delays_s
        ]
        row = self.history(spark).agg(*aggs).collect()[0]
        n = row["n"] or 0
        rates = {
            d: (row[f"d{d}"] / n if n else 0.0) for d in self.delays_s
        }
        chosen = next(
            (d for d in sorted(self.delays_s) if rates[d] <= max_drop_rate),
            None,
        )
        return {"delay_s": chosen, "rates": rates, "n_events": n}

    def _wm_before(self, spark: SparkSession, epoch_id: int) -> int | None:
        prior = self.history(spark).filter(F.col("epoch") < epoch_id)
        row = prior.agg(F.max("batch_max_us").alias("m")).collect()[0]
        return row["m"]

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        wm = self._wm_before(batch_df.sparkSession, epoch_id)
        us = F.unix_micros(F.col(self.ts_col))
        aggs = [
            F.count(F.lit(1)).alias("n"),
        ]
        for d in self.delays_s:
            if wm is None:
                aggs.append(F.lit(0).cast("long").alias(f"dropped_{d}s"))
            else:
                cut = wm - d * 1_000_000
                aggs.append(
                    F.coalesce(
                        F.sum((us < F.lit(cut)).cast("long")), F.lit(0)
                    ).alias(f"dropped_{d}s")
                )
        lag = (
            F.lit(0).cast("long")
            if wm is None
            else F.greatest(F.lit(wm) - F.min(us), F.lit(0).cast("long"))
        )
        aggs.append(lag.alias("max_lag_us"))
        aggs.append(F.max(us).alias("batch_max_us"))
        return batch_df.agg(*aggs).select(
            F.lit(int(epoch_id)).alias("epoch"),
            F.lit(wm).cast("long").alias("wm_before_us"),
            "*",
        )

    def fold(self, df: DataFrame) -> DataFrame:
        return df.distinct()
