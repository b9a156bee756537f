"""Continuous embedding-distribution drift monitoring — the vector
sibling of the tokenizer-drift store: every micro-batch of embeddings
is routed against a FROZEN coarse codebook (the IVF centroids an ANN
index was built with), and the per-list occupancy + residual-distance
report lands as an epoch delta.

Why a corpus owner wants this: an ANN index (functions/ann_store.py)
is built once against yesterday's embedding distribution. When the
upstream encoder changes or a new modality arrives, vectors stop
landing where the codebook expects — inverted lists go unbalanced
(the n_probe/n_centroids scan fraction stops holding) and residual
distances rise (PQ quantization error grows). Both are visible in
exactly two numbers per (epoch, list): how many vectors routed there,
and their summed angular distance to the centroid.

Routing reuses the exact-tier ranking every IVF operator here shares
(functions/similarity.py::_centroid_ranked — quantized-integer
cosine, deterministic tiebreak), so the monitor measures the SAME
assignment the index would make. Per-row distances quantize to
integer nano-units before summing (the exactmath rule: partial
aggregation order cannot perturb an integer sum); the mean is one
IEEE division on read.

Store shape (store.py lifecycle): ``<dir>/reports/epoch=N`` rows
keyed (epoch, lst); fold = distinct. Idempotent under replay (the
report is a deterministic aggregate of the batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.similarity import _centroid_ranked
from ..store import MergeableStore

_SCHEMA = "epoch BIGINT, lst BIGINT, n BIGINT, dist_units BIGINT"


class EmbeddingDriftPipeline(MergeableStore):
    """foreachBatch-shaped embedding monitor; see module docstring.
    ``write_batch`` per epoch, then :meth:`history` for the per-list
    series or :meth:`drift` for epochs whose occupancy or residual
    distance moved beyond slack from the first epoch's baseline."""

    def __init__(
        self,
        base_dir: str,
        centroids: DataFrame,
        compact_every: int | None = None,
    ) -> None:
        super().__init__(f"{base_dir}/reports", _SCHEMA, compact_every)
        self.base_dir = base_dir
        # the codebook is part of the frozen index: materialize once
        # (n_centroids rows) so every epoch broadcasts identical content
        self._cent_rows = centroids.select("vec_id", "embedding").collect()
        self._cent_schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
        self.reports_dir = self.path

    def _centroids(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self._cent_rows, self._cent_schema)

    # -- reads ----------------------------------------------------------
    def history(self, spark: SparkSession) -> DataFrame:
        """(epoch, lst, n, mean_dist): per-epoch per-list occupancy and
        mean angular distance (1 - cosine) to the owning centroid."""
        return self.read(spark).select(
            "epoch",
            "lst",
            "n",
            (
                F.col("dist_units").cast("double")
                / 1e9
                / F.col("n")
            ).alias("mean_dist"),
        )

    def drift(
        self,
        spark: SparkSession,
        share_slack: float = 0.1,
        dist_slack: float = 0.05,
    ) -> DataFrame:
        """(epoch, max_share_delta, mean_dist, baseline_mean_dist,
        drifted): per-epoch summary against the FIRST epoch's baseline
        — occupancy shares per list compared pointwise (absent lists
        count as share 0), plus the epoch-wide mean distance. An epoch
        drifts when any list's share moved more than ``share_slack``
        or the mean distance rose more than ``dist_slack``."""
        h = self.history(spark)
        shares = h.withColumn(
            "share",
            F.col("n")
            / F.sum("n").over(Window.partitionBy("epoch")),
        )
        first = F.min("epoch").over(Window.partitionBy())
        base = (
            shares.withColumn("_e0", first)
            .filter(F.col("epoch") == F.col("_e0"))
            .select(
                F.col("lst").alias("b_lst"),
                F.col("share").alias("b_share"),
                (F.col("mean_dist") * F.col("n")).alias("b_dist_mass"),
                F.col("n").alias("b_n"),
            )
        )
        b_mean = base.agg(
            (F.sum("b_dist_mass") / F.sum("b_n")).alias("m")
        ).collect()[0]["m"]
        # Compare per (epoch, list), not per list: a baseline list that
        # a LATER epoch dropped to zero has no row in that epoch's
        # shares at all, so a join keyed on lst alone would never
        # surface its |0 - b_share| — the exact occupancy-collapse
        # drift this monitor exists to catch. The grid (every epoch ×
        # every baseline list, codebook-bounded) makes the absence a
        # row with share 0; the full outer keeps novel lists (absent
        # from the baseline) contributing |share - 0| as before.
        grid = (
            shares.select(F.col("epoch").alias("g_epoch"))
            .distinct()
            .crossJoin(
                F.broadcast(
                    base.select("b_lst", "b_share")
                )
            )
        )
        obs = shares.select(
            F.col("epoch").alias("o_epoch"), "lst", "share", "mean_dist", "n"
        )
        joined = grid.join(
            obs,
            (F.col("g_epoch") == F.col("o_epoch"))
            & (F.col("b_lst") == F.col("lst")),
            "full_outer",
        ).select(
            F.coalesce(F.col("g_epoch"), F.col("o_epoch")).alias("epoch"),
            F.coalesce(F.col("share"), F.lit(0.0)).alias("share"),
            F.coalesce(F.col("b_share"), F.lit(0.0)).alias("b_share"),
            "mean_dist",
            "n",
        )
        per_epoch = (
            joined.groupBy("epoch")
            .agg(
                F.max(F.abs(F.col("share") - F.col("b_share"))).alias(
                    "max_share_delta"
                ),
                (
                    F.sum(F.col("mean_dist") * F.col("n"))
                    / F.sum("n")
                ).alias("mean_dist"),
            )
        )
        return per_epoch.select(
            "epoch",
            "max_share_delta",
            "mean_dist",
            F.lit(b_mean).alias("baseline_mean_dist"),
            (
                (F.col("max_share_delta") > share_slack)
                | (F.col("mean_dist") > F.lit(b_mean) + dist_slack)
            ).alias("drifted"),
        )

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        ranked = _centroid_ranked(
            batch_df, self._centroids(batch_df.sparkSession)
        )
        assigned = ranked.filter(F.col("crank") == 1).select(
            F.col("cent_vid").alias("lst"),
            F.round((F.lit(1.0) - F.col("ccos")) * 1e9)
            .cast("long")
            .alias("du"),
        )
        return assigned.groupBy("lst").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("du").alias("dist_units"),
        ).select(F.lit(int(epoch_id)).alias("epoch"), "*")

    def fold(self, df: DataFrame) -> DataFrame:
        return df.distinct()
