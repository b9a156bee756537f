"""Continuously-maintained seasonal baselines — the streaming form of
``operators/stats.py::mad_outliers``: each micro-batch lands its
(key, hour-of-day, value-unit) COUNTS as an epoch delta (sum-mergeable
— the gram-count fold algebra), and the exact per-(key, hour) median
and MAD are derived from the folded counts on read via
``median_from_counts`` (pinned bitwise-equal to ``percentile(_, 0.5)``
over the expanded rows).

Why counts, not medians: medians don't merge — two epochs' medians say
nothing about the union's median — but the VALUE DISTRIBUTION does,
exactly, as long as values live on a bounded grid. The integer-unit
grid (10^scale) is that bound: the store holds one row per distinct
(key, hour, unit) FOREVER, however many events pass through (the
ScoreDistPipeline grid argument, extended with a season key).

The serving read this store exists for: score a NEW batch against
baselines built from everything PRIOR — online anomaly flagging with
the robustness of the batch operator (median/MAD survive contaminated
history where mean/stddev drown; the mad_outliers tests carry the
proof). The batch operator flags rows against baselines that INCLUDE
them; :meth:`flag` deliberately does not — a fresh anomaly must not
dilute the baseline it is judged against.

Store shape (store.py lifecycle): ``<dir>/counts/epoch=N`` rows
(k, hod, u, cnt); fold = re-sum. Replay-idempotent (epoch overwrite,
stateless projection). Per-epoch write work is batch-local (one
map-side-combined aggregation; zero store-side reads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.exactmath import units
from ..operators.stats import median_from_counts
from ..store import MergeableStore

# widening within this ladder is value-preserving; anything else must
# be declared via key_type or the store would silently null the key on
# read (read_store casts to the declared schema)
_INTEGRALS = ("tinyint", "smallint", "int", "bigint")


def _hod(ts_col: str) -> F.Column:
    h = 3600 * 1_000_000
    return F.expr(
        f"pmod((unix_micros({ts_col}) - pmod(unix_micros({ts_col}), {h}))"
        f" div {h}, 24)"
    ).cast("int")


class BaselinePipeline(MergeableStore):
    """foreachBatch-shaped seasonal-baseline maintainer; see module
    docstring. ``write_batch`` per epoch; :meth:`baselines` for the
    live (k, hod, season_median, season_mad) table; :meth:`flag` to
    score a new batch against the CURRENT store."""

    def __init__(
        self,
        base_dir: str,
        key: str = "user_id",
        ts_col: str = "ts",
        value_col: str = "value",
        scale: int = 2,
        key_type: str = "BIGINT",
        compact_every: int | None = None,
    ) -> None:
        super().__init__(
            f"{base_dir}/counts",
            f"k {key_type}, hod INT, u BIGINT, cnt BIGINT",
            compact_every,
        )
        self.base_dir = base_dir
        self.key = key
        self.ts_col = ts_col
        self.value_col = value_col
        self.scale = scale
        self.key_type = key_type
        self.counts_dir = self.path

    def _check_key(self, batch_df: DataFrame) -> str:
        """The store's key dtype is part of its on-disk contract
        (read_store casts every part to the declared schema, so a
        string key landed into a BIGINT-declared store would read back
        NULL and collapse all keys into one baseline group). Fail loud
        at write time instead; integer widening is allowed."""
        got = batch_df.schema[self.key].dataType.simpleString()
        want = (
            self.empty(batch_df.sparkSession)
            .schema["k"]
            .dataType.simpleString()
        )
        ok = got == want or (
            got in _INTEGRALS
            and want in _INTEGRALS
            and _INTEGRALS.index(got) <= _INTEGRALS.index(want)
        )
        if not ok:
            raise TypeError(
                f"key column {self.key!r} is {got} but the store is "
                f"declared {want}; construct BaselinePipeline with "
                f"key_type={got!r}"
            )
        return want

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        want = self._check_key(batch_df)
        u = units(F.col(self.value_col), self.scale)
        return (
            batch_df.filter(F.col(self.value_col).isNotNull())
            .select(
                F.col(self.key).cast(want).alias("k"),
                _hod(self.ts_col).alias("hod"),
                u.alias("u"),
            )
            .groupBy("k", "hod", "u")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def fold(self, df: DataFrame) -> DataFrame:
        return df.groupBy("k", "hod", "u").agg(F.sum("cnt").alias("cnt"))

    # -- reads ------------------------------------------------------------
    def counts(self, spark: SparkSession) -> DataFrame:
        return self.read(spark)

    def baselines(self, spark: SparkSession) -> DataFrame:
        """(k, hod, season_median, season_mad) from the folded counts —
        each the EXACT percentile(_, 0.5) of the ingested multiset
        (same interpolation, pinned), at unit scale divided back to
        the measure's own scale."""
        c = self.counts(spark)
        med = median_from_counts(c, ["k", "hod"], "u", "cnt", "med_u")
        dev = (
            c.join(med, ["k", "hod"])
            .select(
                "k",
                "hod",
                F.abs(F.col("u").cast("double") - F.col("med_u")).alias(
                    "d"
                ),
                "cnt",
            )
            .groupBy("k", "hod", "d")
            .agg(F.sum("cnt").alias("cnt"))
        )
        mad = median_from_counts(dev, ["k", "hod"], "d", "cnt", "mad_u")
        denom = 10**self.scale
        return (
            med.join(mad, ["k", "hod"])
            .select(
                "k",
                "hod",
                (F.col("med_u") / denom).alias("season_median"),
                (F.col("mad_u") / denom).alias("season_mad"),
            )
        )

    def flag(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        k_mad: float = 3.5,
        outliers_only: bool = True,
    ) -> DataFrame:
        """Score a batch against the CURRENT store's baselines (which
        deliberately exclude the batch — see module docstring). Rows
        whose (key, hour) has no baseline yet pass unflagged (NULL
        medians flag nothing — there is nothing to deviate from)."""
        u = units(F.col(self.value_col), self.scale)
        base = batch_df.filter(F.col(self.value_col).isNotNull()).select(
            "*", _hod(self.ts_col).alias("hod"), u.alias("_u")
        )
        b = self.baselines(spark).withColumnRenamed("k", self.key)
        denom = 10**self.scale
        joined = base.join(b, [self.key, "hod"], "left")
        is_out = (
            F.abs(
                F.col("_u").cast("double")
                - F.col("season_median") * denom
            )
            > F.lit(k_mad) * F.col("season_mad") * denom
        )
        out = joined.withColumn(
            "is_outlier", F.coalesce(is_out, F.lit(False))
        ).drop("_u")
        return out.filter(F.col("is_outlier")) if outliers_only else out

    # -- maintenance ------------------------------------------------------
    def rebuild_from_source(
        self, spark: SparkSession, source: DataFrame, epoch_col: str = "epoch"
    ) -> dict:
        """Rebuild the WHOLE count store from a retained source table
        (the cardinality pipeline's rebuild contract, verbatim): value
        counts are aggregates a single key cannot be subtracted from
        row-wise once folded with other epochs' counts, so deletion
        propagates by re-deriving the store from the already-forgotten
        source. ``source`` = the retained events with ``epoch_col``
        marking each row's original epoch; one grouped pass, atomic
        whole-store swap, any compacted base dropped. Returns
        ``{"epochs": n, "rows": n}``."""
        from ..forget import replace_store_dir
        from ..store import store_parts

        want = self._check_key(source)
        u = units(F.col(self.value_col), self.scale)
        counts = (
            source.filter(F.col(self.value_col).isNotNull())
            .select(
                F.col(epoch_col).cast("long").alias(epoch_col),
                F.col(self.key).cast(want).alias("k"),
                _hod(self.ts_col).alias("hod"),
                u.alias("u"),
            )
            .groupBy(epoch_col, "k", "hod", "u")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        replace_store_dir(spark, self.counts_dir, counts, epoch_col)
        _, _, epochs = store_parts(spark, self.counts_dir)
        return {"epochs": len(epochs), "rows": self.raw(spark).count()}
