"""Continuous schema-drift monitoring over a JSONL ingest — the
contract-side sibling of the quality audit: the ingest readers
(sources/jsonl.py) are deliberately contract-first (declared schema,
never inferred), which means upstream schema drift is INVISIBLE to
them by design — a new field is silently dropped, a vanished field is
silently NULL. This monitor makes the drift a queryable per-epoch
series instead: each micro-batch of RAW lines lands one row per
observed top-level field — how many lines carry it, and whether the
contract declares it.

What it catches, concretely:

- a NEW upstream field ramping up (``declared = false`` with rising
  presence) — the signal to extend the contract before the data is
  lost to history;
- a DECLARED field vanishing (presence falling) — upstream dropped or
  renamed it; the parsed column is quietly going NULL;
- unparseable-line rate (the ``_corrupt`` pseudo-field) — the
  quarantine's fraction, visible per epoch without re-reading it.

All native Catalyst, one pass: ``json_object_keys`` extracts each
line's top-level key list without parsing values against any schema
(no inference pass), one explode, one map-side-combined count. Lines
that are not a JSON object get a NULL key list and count under
``_corrupt``. Top-level keys only, deliberately: nested drift is a
value-shape question the expectations module owns.

Store shape (store.py lifecycle): ``<dir>/fields/epoch=N`` rows
``(epoch, field, n_present, n_rows, declared)``; fold = distinct
(rows are keyed facts). Replay-idempotent (deterministic aggregate of
the batch). The series feeds ``cusum_changepoints`` directly
(group = field, metric = presence fraction) like every monitor here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..store import MergeableStore, run_foreach_batch
from .staging import read_staged

_SCHEMA = (
    "epoch BIGINT, field STRING, n_present BIGINT, n_rows BIGINT,"
    " declared BOOLEAN, n_coerced BIGINT"
)

CORRUPT_FIELD = "_corrupt"


class SchemaDriftPipeline(MergeableStore):
    """foreachBatch-shaped schema monitor; see module docstring.
    ``write_batch`` per epoch over frames carrying raw JSON lines in
    ``raw_col``; :meth:`history` for the per-field series,
    :meth:`drift` for the alert view."""

    def __init__(
        self,
        base_dir: str,
        declared_schema: str | StructType,
        raw_col: str = "value",
        compact_every: int | None = None,
    ) -> None:
        st = (
            declared_schema
            if isinstance(declared_schema, StructType)
            else StructType.fromDDL(declared_schema)
        )
        super().__init__(f"{base_dir}/fields", _SCHEMA, compact_every)
        self._struct = st
        self.declared = sorted(f.name for f in st.fields)
        self.base_dir = base_dir
        self.raw_col = raw_col
        self.fields_dir = self.path

    # -- the store's algebra ----------------------------------------------
    def project(self, batch_df: DataFrame, epoch_id: int) -> DataFrame:
        keys = batch_df.select(
            F.col(self.raw_col).alias("_raw"),
            F.json_object_keys(F.col(self.raw_col)).alias("ks"),
            F.from_json(F.col(self.raw_col), self._struct).alias("p"),
        )
        n_rows = keys.count()
        observed = (
            keys.select(
                F.explode(
                    # non-object lines -> NULL key list -> the corrupt
                    # pseudo-field (coalesce keeps them countable
                    # through the explode)
                    F.coalesce(
                        F.col("ks"), F.array(F.lit(CORRUPT_FIELD))
                    )
                ).alias("field")
            )
            .groupBy("field")
            .agg(F.count(F.lit(1)).alias("n_present"))
        )
        # TYPE drift per declared field: present in the RAW object with
        # a NON-NULL raw value, but nulled by schema coercion (Spark's
        # permissive JSON parser nulls exactly the mismatched field —
        # pinned in tests). The raw-side get_json_object guard matters:
        # a declared nullable field legitimately carrying JSON null
        # ({"a": null}) parses to NULL too, and without the guard it
        # would raise a perpetual false 'coercion' alert (declared
        # field names must be plain identifiers for the $.name path —
        # the JSONL contract's own rule). One aggregated row, unpivoted
        # driver-side (|declared| columns).
        coerce_row = keys.agg(
            *[
                F.count(
                    F.when(
                        F.array_contains(F.col("ks"), F.lit(d))
                        & F.col(f"p.{d}").isNull()
                        & F.get_json_object(
                            F.col("_raw"), f"$.{d}"
                        ).isNotNull(),
                        F.lit(1),
                    )
                ).alias(d)
                for d in self.declared
            ]
        ).first()
        spark = batch_df.sparkSession
        coerced = spark.createDataFrame(
            [(d, int(coerce_row[d])) for d in self.declared],
            "field STRING, n_coerced BIGINT",
        )
        declared_lit = F.array(*[F.lit(d) for d in self.declared])
        return observed.join(F.broadcast(coerced), "field", "left").select(
            F.lit(int(epoch_id)).alias("epoch"),
            "field",
            "n_present",
            F.lit(int(n_rows)).alias("n_rows"),
            F.array_contains(declared_lit, F.col("field")).alias("declared"),
            F.coalesce("n_coerced", F.lit(0)).alias("n_coerced"),
        )

    def fold(self, df: DataFrame) -> DataFrame:
        return df.distinct()

    # -- reads ------------------------------------------------------------
    def history(self, spark: SparkSession) -> DataFrame:
        """(epoch, field, n_present, n_rows, frac, declared): the
        per-epoch presence series (empty-safe). Fields absent from an
        epoch simply have no row — :meth:`drift` fills the zeros
        against the declared set (the embedding-drift grid lesson)."""
        return self.read(spark).select(
            "epoch",
            "field",
            "n_present",
            "n_rows",
            (F.col("n_present") / F.col("n_rows")).alias("frac"),
            "declared",
            "n_coerced",
            (F.col("n_coerced") / F.col("n_present")).alias("coerce_frac"),
        )

    def drift(
        self,
        spark: SparkSession,
        appear_frac: float = 0.01,
        vanish_slack: float = 0.1,
        coerce_frac: float = 0.01,
    ) -> DataFrame:
        """(epoch, field, frac, baseline_frac, kind): the alert rows —
        ``kind = 'undeclared'`` for non-contract fields present in at
        least ``appear_frac`` of an epoch's lines (``_corrupt``
        reported under the same rule), ``kind = 'vanishing'`` for
        declared fields whose presence fell more than ``vanish_slack``
        (absolute) below their FIRST-epoch baseline. Declared fields
        compare per (epoch, field) against the epoch × declared-set
        grid, so a field dropping to ZERO rows still alerts (the
        embedding-drift occupancy-collapse lesson, applied at birth);
        ``kind = 'coercion'`` for declared fields present in the raw
        object but NULLED by schema coercion in at least
        ``coerce_frac`` of their occurrences — TYPE drift (upstream
        re-typed the field; presence alone would never see it)."""
        h = self.history(spark)
        undeclared = h.filter(
            (~F.col("declared")) & (F.col("frac") >= appear_frac)
        ).select(
            "epoch",
            "field",
            "frac",
            F.lit(None).cast("double").alias("baseline_frac"),
            F.lit("undeclared").alias("kind"),
        )
        epochs = h.select("epoch").distinct()
        declared_rows = spark.createDataFrame(
            [(d,) for d in self.declared], "field STRING"
        )
        grid = epochs.crossJoin(F.broadcast(declared_rows))
        obs = h.filter(F.col("declared")).select(
            F.col("epoch").alias("o_epoch"),
            F.col("field").alias("o_field"),
            "frac",
        )
        filled = grid.join(
            obs,
            (grid["epoch"] == obs["o_epoch"])
            & (grid["field"] == obs["o_field"]),
            "left",
        ).select(
            "epoch", "field", F.coalesce("frac", F.lit(0.0)).alias("frac")
        )
        from pyspark.sql import Window

        w = Window.partitionBy("field")
        base = F.min_by("frac", "epoch").over(w)
        vanishing = (
            filled.withColumn("baseline_frac", base)
            .filter(F.col("frac") < F.col("baseline_frac") - vanish_slack)
            .select(
                "epoch",
                "field",
                "frac",
                "baseline_frac",
                F.lit("vanishing").alias("kind"),
            )
        )
        coercion = h.filter(
            F.col("declared") & (F.col("coerce_frac") >= coerce_frac)
        ).select(
            "epoch",
            "field",
            F.col("coerce_frac").alias("frac"),
            F.lit(None).cast("double").alias("baseline_frac"),
            F.lit("coercion").alias("kind"),
        )
        return undeclared.unionByName(vanishing).unionByName(coercion)


def streaming_schema_drift(
    spark: SparkSession,
    staged_lines_dir: str,
    base_dir: str,
    checkpoint_dir: str,
    declared_schema: str | StructType,
    raw_col: str = "value",
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
):
    """Wire a staged raw-JSONL directory (text files, one JSON object
    per line) through the schema monitor. Returns the started
    StreamingQuery; read the series with
    ``SchemaDriftPipeline(base_dir, ...).history``."""
    pipe = SchemaDriftPipeline(
        base_dir,
        declared_schema,
        raw_col=raw_col,
        compact_every=compact_every,
    )
    stream = read_staged(
        spark,
        f"{raw_col} STRING",
        staged_lines_dir,
        max_files_per_trigger,
        fmt="text",
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
