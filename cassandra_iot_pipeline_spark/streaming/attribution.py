"""Continuously-maintained conversion attribution — the streaming form
of ``operators/attribution.py``, shaped exactly like the funnel
maintainer (streaming/funnel.py): each micro-batch lands its distinct
conversion/touch points as an epoch delta; first/last/linear credit is
computed ON READ over the folded point store.

Why on-read (the funnel argument, verbatim): attribution is
NON-MONOTONE under late data — a late touch EARLIER than the current
first touch re-opens the conversion's first-touch credit, and a late
touch anywhere in the window changes every linear share (1/n shifts
for all n touches). Any incremental per-conversion state would have to
keep the window's touch set anyway, so the store IS the minimal
sufficient statistic: the distinct (k, us, type, id) point set,
idempotent under replay and union-order-free.

Store shape (the shared delta+base lifecycle, store.py):

- ``<dir>/pts/epoch=N/``     the batch's own distinct points
  (conversions AND touches, type-tagged)
- ``<dir>/pts/base_upto=K/`` at most one compacted base (fold =
  distinct — bitwise invisible; also tail-foldable via
  ``store.compact_epochs``, the associative class)

Scale: per-epoch write is one batch-local filter + distinct (zero
store-side work); the store holds only attribution-TYPED events. The
read is the pair-free as-of plan over that slice; like the funnel
read, its cost grows with the stored point set (the
minimal-statistic class, stated in streaming/funnel.py) — UNLESS a
lateness horizon is declared. :meth:`AttributionPipeline.finalize`
(r10) is that opt-in tier: a conversion with ``cts < max event time
- lateness`` is provably closed (a horizon-respecting new touch has
``t >= cutoff > cts``, outside the strict-< window), so the
finalized conversions' per-channel report rows — all ADDITIVE: the
per-conversion micro-credit rounding splits cleanly across any
partition of the conversion set — fold into the ``fin/`` store, the
folded conversions and the touches no live-or-future window can
reach (``us < cutoff - lookback``) are garbage-collected, and the
live store stays bounded by lookback + lateness instead of lifetime.
The watermark is EXCLUSIVE on the folded side and inclusive on the
live side (r11: a legal arrival at exactly the watermark lands on
exactly one side — the r10 boundary dropped it silently). The
read filters live conversions by the watermark (so a crash between
the fin write and the GC can never double-count) and SUMS the fin
rows in — bitwise the full recompute for horizon-respecting streams
(pinned in tests). Horizon violations are copied loudly to
``quarantine/`` (store.Quarantine: wm-stamped rows, count-preserving
retention, tail folds), never silently dropped; a late-but-legal
touch (at or over the watermark, or under it only as far as a live
window reaches) still folds. Growth measured in tools/scale_probe.py
``--finalize-stream`` (SCALE.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.attribution import (
    asof_attribution,
    position_attribution,
    time_decay_attribution,
)
from ..store import (
    MergeableStore,
    Quarantine,
    compact_store,
    declared_types,
    run_foreach_batch,
)
from .staging import read_staged


class AttributionPipeline(MergeableStore):
    """foreachBatch-shaped attribution maintainer; see module
    docstring. ``write_batch`` per epoch, then :meth:`report` for the
    live per-channel credit table (bit-identical to the batch operator
    over the same events, pinned in tests)."""

    def __init__(
        self,
        base_dir: str,
        conversion_type: str = "purchase",
        touch_types: Sequence[str] = ("view", "click"),
        lookback_seconds: int = 7 * 86_400,
        key: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        tie_col: str = "event_id",
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
        finalize_every: int | None = None,
        finalize_lateness_seconds: int | None = None,
        position_weights: tuple[float, float] = (0.4, 0.4),
        decay_half_life_seconds: int | None = None,
        quarantine_prune_every: int | None = None,
    ) -> None:
        if (finalize_every is None) != (finalize_lateness_seconds is None):
            raise ValueError(
                "finalize_every and finalize_lateness_seconds come "
                "together: the cadence needs the declared lateness"
            )
        if decay_half_life_seconds is not None:
            from ..operators.attribution import _decay_buckets

            _decay_buckets(lookback_seconds, decay_half_life_seconds)
        types = declared_types(
            updates_schema,
            {key: "BIGINT", tie_col: "BIGINT"},
            "attribution",
        )
        super().__init__(
            f"{base_dir}/pts",
            f"k {types[key]}, us BIGINT, t STRING, tie {types[tie_col]}",
            compact_every,
        )
        self.base_dir = base_dir
        self.conversion_type = conversion_type
        self.touch_types = list(touch_types)
        self.lookback_seconds = lookback_seconds
        self.key = key
        self.ts_col = ts_col
        self.type_col = type_col
        self.tie_col = tie_col
        self.finalize_every = finalize_every
        self.finalize_lateness_seconds = finalize_lateness_seconds
        self.quarantine_prune_every = quarantine_prune_every
        self.position_weights = tuple(position_weights)
        self.decay_half_life_seconds = decay_half_life_seconds
        self.pts_dir = self.path
        self.fin_dir = f"{base_dir}/fin"
        self.q_dir = f"{base_dir}/quarantine"
        self.quarantine_store = Quarantine(self.q_dir, self.schema)
        # fin rows carry EVERY additive credit model (linear,
        # position/U-shaped with this pipeline's position_weights
        # baked in, and — when a half-life is configured — time-decay
        # with its dyadic buckets; changing weights or half-life means
        # rebuild_from_source). decay_units is 0 when unconfigured.
        self.fin_schema = (
            "wm BIGINT, touch_type STRING, first_touch BIGINT,"
            " last_touch BIGINT, linear_units BIGINT,"
            " position_units BIGINT, decay_units BIGINT"
        )
        self.fin = MergeableStore(
            self.fin_dir, self.fin_schema, fold=_fin_fold
        )

    # -- reads ----------------------------------------------------------
    def points(self, spark: SparkSession) -> DataFrame:
        """The folded distinct point store (empty-safe)."""
        return self.read(spark)

    def _events(self, pts: DataFrame) -> DataFrame:
        return pts.select(
            F.col("k").alias(self.key),
            F.timestamp_micros(F.col("us")).alias(self.ts_col),
            F.col("t").alias(self.type_col),
            F.col("tie").alias(self.tie_col),
        )

    def _report_over(self, pts: DataFrame, model: str = "linear") -> DataFrame:
        if model == "linear":
            return asof_attribution(
                self._events(pts),
                self.conversion_type,
                self.touch_types,
                self.lookback_seconds,
                self.key,
                self.ts_col,
                self.type_col,
                self.tie_col,
            )
        if model == "position":
            return position_attribution(
                self._events(pts),
                self.conversion_type,
                self.touch_types,
                self.lookback_seconds,
                self.key,
                self.ts_col,
                self.type_col,
                self.tie_col,
                w_first=self.position_weights[0],
                w_last=self.position_weights[1],
            )
        if model == "decay":
            if self.decay_half_life_seconds is None:
                raise ValueError(
                    "decay model needs decay_half_life_seconds set on "
                    "the pipeline (the half-life is baked into the fin "
                    "rows — changing it means rebuild_from_source)"
                )
            return time_decay_attribution(
                self._events(pts),
                self.conversion_type,
                self.touch_types,
                self.lookback_seconds,
                self.decay_half_life_seconds,
                self.key,
                self.ts_col,
                self.type_col,
                self.tie_col,
            )
        raise ValueError(f"unknown attribution model {model!r}")

    def _both_reports(self, pts: DataFrame) -> DataFrame:
        """(touch_type, first_touch, last_touch, linear_units,
        position_units, decay_units): every configured additive
        model's rows, null-safe joined — identical row sets by
        construction (same exploded channel base; same NULL-row
        rule). decay_units is 0 when no half-life is configured."""
        lin = self._report_over(pts, "linear").select(
            "touch_type", "first_touch", "last_touch", "linear_units"
        )
        pos = self._report_over(pts, "position").select(
            F.col("touch_type").alias("p_tt"),
            "position_units",
        )
        out = lin.join(
            pos, F.col("touch_type").eqNullSafe(F.col("p_tt")), "left"
        ).select(
            "touch_type",
            "first_touch",
            "last_touch",
            "linear_units",
            F.coalesce("position_units", F.lit(0)).alias("position_units"),
        )
        if self.decay_half_life_seconds is None:
            return out.withColumn("decay_units", F.lit(0).cast("long"))
        dec = self._report_over(pts, "decay").select(
            F.col("touch_type").alias("d_tt"),
            "decay_units",
        )
        return out.join(
            dec, F.col("touch_type").eqNullSafe(F.col("d_tt")), "left"
        ).select(
            "touch_type",
            "first_touch",
            "last_touch",
            "linear_units",
            "position_units",
            F.coalesce("decay_units", F.lit(0)).alias("decay_units"),
        )

    def _fin(self, spark: SparkSession) -> DataFrame:
        """The finalized report increments (wm, touch_type, counts),
        folded by channel (empty-safe; sum fold — every column is
        additive, wm folds by max)."""
        return self.fin.read(spark)

    def fin_watermark(self, spark: SparkSession) -> int | None:
        """The latest finalization cutoff (microseconds), or None —
        the live read's conversion boundary and the quarantine
        boundary."""
        if not self.fin.exists(spark):
            return None
        wm = self._fin(spark).agg(F.max("wm")).first()[0]
        return None if wm is None else int(wm)

    def report(
        self, spark: SparkSession, model: str = "linear"
    ) -> DataFrame:
        """The live attribution table — the pair-free batch operator
        (``asof_attribution``, bit-equal to the pair path, pinned in
        the batch tests) over the point store: the store accumulates a
        LIFETIME of points, exactly the regime where the pair path's
        conversions x touches cost explodes and the as-of sort stays
        flat. Duplicate points collapse in the pre-distinct; the
        operator counts rows, so the distinct is REQUIRED correctness
        here, unlike the funnel's duplicate-tolerant fold — which is
        why write_batch also distincts. With finalized epochs present,
        live conversions are the ones AT or above the watermark
        (reading the
        boundary from the fin store makes the fin-write the atomic
        commit point — a crash before the GC can never double-count),
        and the finalized per-channel rows sum in. ``model`` picks the
        credit algebra: ``"linear"`` (the default; 1/n per touch) or
        ``"position"`` (U-shaped, this pipeline's position_weights) —
        both additive, both carried by the fin rows."""
        units = (
            f"{model}_units"
            if model in ("linear", "position", "decay")
            else None
        )
        if units is None:
            raise ValueError(f"unknown attribution model {model!r}")
        if model == "decay" and self.decay_half_life_seconds is None:
            raise ValueError(
                "decay model needs decay_half_life_seconds set on the "
                "pipeline (the half-life is baked into the fin rows)"
            )
        credit = f"{model}_credit"
        wm = self.fin_watermark(spark)
        pts = self.points(spark)
        if wm is None:
            return self._report_over(pts, model)
        lb_us = self.lookback_seconds * 1_000_000
        is_conv = F.col("t") == self.conversion_type
        # the watermark is EXCLUSIVE on the folded side (finalize folds
        # us < wm, this read serves us >= wm): a legal arrival at
        # exactly the watermark (the horizon contract admits t >= wm)
        # must land on exactly one side — with > here and <= in the
        # fold, a conversion arriving late at us == wm was silently
        # lost (neither served, nor folded, nor quarantined)
        live = pts.filter(
            (is_conv & (F.col("us") >= wm))
            | (~is_conv & (F.col("us") >= wm - lb_us))
        )
        parts = self._report_over(live, model).select(
            "touch_type", "first_touch", "last_touch", units
        ).unionByName(
            self._fin(spark).select(
                "touch_type", "first_touch", "last_touch", units
            )
        )
        return (
            parts.groupBy("touch_type")
            .agg(
                F.sum("first_touch").alias("first_touch"),
                F.sum("last_touch").alias("last_touch"),
                F.sum(units).alias(units),
            )
            .select(
                "touch_type",
                "first_touch",
                "last_touch",
                units,
                (F.col(units) / F.lit(1_000_000.0)).alias(credit),
            )
        )

    def quarantine(self, spark: SparkSession) -> DataFrame:
        """Horizon-violating points (qwm, k, us, t, tie) — arrivals
        with event time under the finalization watermark, copied here
        loudly and stamped with the watermark that judged them (see
        store.Quarantine for the replay/retention contract)."""
        return self.quarantine_store.rows(spark)

    def quarantine_count(self, spark: SparkSession) -> int:
        """Total violations ever seen — invariant across
        :meth:`prune_quarantine` (pruned epochs live on as counts)."""
        return self.quarantine_store.count(spark)

    def prune_quarantine(self, spark: SparkSession, keep_recent: int = 4) -> dict:
        """Age out detailed violation rows, count-preserving
        (store.Quarantine.prune)."""
        return self.quarantine_store.prune(spark, keep_recent)

    def doctor(self, spark: SparkSession) -> dict:
        """Operational report over all three sub-stores, with the
        quarantine-growth finding (a persistently-late source appends
        one violation epoch per micro-batch forever — the alarm
        channel must not itself become a small-files store)."""
        from ..store import store_stats

        return {
            "pts": store_stats(spark, self.pts_dir),
            "fin": store_stats(spark, self.fin_dir),
            "quarantine": self.quarantine_store.stats(spark),
        }

    def finalize(
        self, spark: SparkSession, lateness_seconds: int
    ) -> dict:
        """Declare an event-time lateness horizon: conversions
        STRICTLY under ``cutoff = max event time - lateness`` are
        provably closed (any horizon-respecting new touch lands at
        ``t >= cutoff > cts`` — outside the strict-< window), so
        their per-channel report — additive across conversion sets,
        the per-conversion micro-credit rounding included — folds into
        one fin epoch carrying the watermark in every row (the write
        IS the commit: reads switch their live boundary the moment it
        lands). The boundary is EXCLUSIVE on this folded side and
        inclusive on the live side (``report`` serves ``us >= wm``):
        a conversion at exactly the watermark — a legal arrival under
        the ``t >= cutoff`` horizon contract — stays live and folds at
        the NEXT advance, instead of falling between the two filters
        (the r10 boundary leak: served only above, folded only above
        the previous watermark, quarantined only below). Then GC:
        folded conversions and the touches no live-or-future window
        can reach (``us < cutoff - lookback``; a conversion at the
        watermark needs touches down to ``wm - lookback`` INCLUSIVE)
        leave the point store, which is thereafter bounded by
        lookback + lateness instead of corpus lifetime. Returns
        ``{"finalized_conversions": n, "watermark": cutoff_us | None}``.
        """
        pts = self.points(spark)
        max_us = pts.agg(F.max("us")).first()[0]
        prev = self.fin_watermark(spark)
        if max_us is None:
            return {"finalized_conversions": 0, "watermark": prev}
        cutoff = int(max_us) - lateness_seconds * 1_000_000
        if prev is not None and cutoff <= prev:
            return {"finalized_conversions": 0, "watermark": prev}
        lb_us = self.lookback_seconds * 1_000_000
        is_conv = F.col("t") == self.conversion_type
        # the conversions to fold: at or above the previous watermark
        # (everything below prev was folded at prev — the previous
        # fold's strict-< makes >= the exact complement), strictly
        # under the new cutoff; ALL retained touches ride along
        # (every window of these conversions is complete: a previous
        # GC only removed touches no conversion at or above prev
        # could need)
        lower = prev if prev is not None else -(1 << 62)
        closable = pts.filter(
            (~is_conv)
            | ((F.col("us") < cutoff) & (F.col("us") >= lower))
        )
        n = closable.filter(is_conv & (F.col("us") < cutoff)).count()
        if n == 0:
            return {"finalized_conversions": 0, "watermark": prev}
        inc = self._both_reports(closable).select(
            F.lit(cutoff).cast("long").alias("wm"),
            "touch_type",
            "first_touch",
            "last_touch",
            "linear_units",
            "position_units",
            "decay_units",
        )
        self.fin.append(inc)
        # GC — reads already exclude everything this drops; the kept
        # set mirrors the live read exactly: conversions at the
        # watermark are live (>=), and their windows reach touches
        # down to cutoff - lookback INCLUSIVE (window rule
        # tts >= cts - lookback with cts == cutoff)
        keep = (is_conv & (F.col("us") >= cutoff)) | (
            ~is_conv & (F.col("us") >= cutoff - lb_us)
        )
        compact_store(
            spark,
            self.pts_dir,
            self.empty(spark),
            fold=lambda df: df.distinct().filter(keep),
        )
        return {"finalized_conversions": int(n), "watermark": cutoff}

    # -- the store's algebra ----------------------------------------------
    def fold(self, df: DataFrame) -> DataFrame:
        """Distinct — the reader's own fold, so compaction is
        invisible (pinned in tests)."""
        return df.distinct()

    # -- write path (foreachBatch) ---------------------------------------
    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        wanted = [self.conversion_type, *self.touch_types]
        pts = (
            batch_df.filter(F.col(self.type_col).isin(wanted))
            .select(
                F.col(self.key).alias("k"),
                F.unix_micros(F.col(self.ts_col)).alias("us"),
                F.col(self.type_col).alias("t"),
                F.col(self.tie_col).alias("tie"),
            )
            .distinct()
        )
        # horizon violations are COPIED to quarantine (loud, never
        # silently dropped); the pts epoch keeps the FULL batch so its
        # content stays a stateless projection (replay-idempotent) —
        # the read-side watermark filter is what freezes finalized
        # conversions, and live windows still see late-legal touches
        # strict <: an arrival at exactly the watermark is legal
        # (the horizon contract admits t >= wm) and is served by the
        # live read's us >= wm side — only genuinely-under arrivals
        # are violations
        wm = self.fin_watermark(batch_df.sparkSession)
        if wm is not None:
            late = pts.filter(F.col("us") < wm)
            if not late.isEmpty():
                self.quarantine_store.write_batch(late, epoch_id, wm)
        self.write(pts, epoch_id)

    def cadence(self):
        # after compaction: finalize, then the alarm channel's
        # retention (detail rows age out, the violation COUNT survives
        # forever — store.Quarantine.prune's invariant)
        return [
            *super().cadence(),
            (
                self.finalize_every,
                lambda spark: self.finalize(
                    spark, self.finalize_lateness_seconds
                ),
            ),
            (self.quarantine_prune_every, self.prune_quarantine),
        ]

    def compact_fin_tail(
        self, spark: SparkSession, keep_recent: int = 0
    ) -> int | None:
        """Tail-fold the fin store's epoch deltas (one per finalize —
        unbounded on a long-lived stream without this): the fin rows
        are per-channel ADDITIVE sums with the watermark read as a
        max, so the regroup fold is associative and reader-invisible
        (pinned in tests); it also contracts the store to one row per
        channel, doubling as the deep clean."""
        return self.fin.compact_tail(spark, keep_recent)


def _fin_fold(df: DataFrame) -> DataFrame:
    """The fin store's fold: per-channel sums, the watermark by max."""
    return (
        df.groupBy("touch_type")
        .agg(
            F.max("wm").alias("wm"),
            F.sum("first_touch").alias("first_touch"),
            F.sum("last_touch").alias("last_touch"),
            F.sum("linear_units").alias("linear_units"),
            F.sum("position_units").alias("position_units"),
            F.sum("decay_units").alias("decay_units"),
        )
        .select(
            "wm",
            "touch_type",
            "first_touch",
            "last_touch",
            "linear_units",
            "position_units",
            "decay_units",
        )
    )


def streaming_attribution(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    conversion_type: str = "purchase",
    touch_types: Sequence[str] = ("view", "click"),
    lookback_seconds: int = 7 * 86_400,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
    finalize_every: int | None = None,
    finalize_lateness_seconds: int | None = None,
):
    """Wire a staged event-log directory through the attribution
    maintainer (file order = ingest order, the streaming/dedup.py
    convention). Returns the started StreamingQuery; read the live
    credit table with ``AttributionPipeline(base_dir, ...).report``."""
    pipe = AttributionPipeline(
        base_dir,
        conversion_type,
        touch_types,
        lookback_seconds,
        compact_every=compact_every,
        updates_schema=events_schema,
        finalize_every=finalize_every,
        finalize_lateness_seconds=finalize_lateness_seconds,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
