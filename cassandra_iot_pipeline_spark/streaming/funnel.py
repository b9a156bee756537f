"""Continuously-maintained funnel — the streaming form of
``operators/funnel.py``, shaped exactly like the cohort maintainer
(streaming/cohorts.py): each micro-batch lands its distinct step
points as an epoch delta; the funnel is computed ON READ over the
folded point store.

Why on-read and not incremental state: the greedy-earliest chain is
NON-MONOTONE under late data — a late step-0 event EARLIER than the
current anchor re-anchors the whole chain (and, with a horizon, can
UN-qualify steps that previously counted). Any per-user incremental
state would have to keep every step event anyway to re-run the fold,
so the store IS the minimal sufficient statistic: the distinct
(k, us, s) step-point set, idempotent under replay and
union-order-free (the fold sorts).

Store shape (the shared delta+base lifecycle, store.py):

- ``<dir>/pts/epoch=N/``     the batch's own distinct step points
- ``<dir>/pts/base_upto=K/`` at most one compacted base (fold =
  distinct — invisible to readers, pinned in tests)

Scale: the per-epoch write is one batch-local filter + distinct — the
store is never read in the write path (zero store-side work per
epoch, the cohort-pipeline property). The store holds only
funnel-TYPED events (the step IN filter), typically a small slice of
the corpus; the read-side funnel is the batch operator's pinned
one-exchange plan over that slice.

READ-SCALING CLASS, stated honestly: :meth:`funnel` folds the FULL
point store — cost grows with corpus lifetime (the point set times
the batch plan), not base+recent-deltas like the sibling stores'
reads. This is inherent ONLY under unbounded lateness: the point set
is the proven minimal sufficient statistic for the non-monotone
chain, so any reader must touch all of it — unless the operator
DECLARES a lateness horizon. :meth:`finalize` is that opt-in tier
(r10): with lateness ``H`` declared, a user whose chain window is
provably closed (``anchor + horizon_seconds < max_event_time - H`` —
no horizon-respecting arrival can re-anchor or extend it) folds into
ONE ``(k, hits)`` row in the ``fin/`` side-store and their points are
garbage-collected; the read becomes ``funnel_report`` over finalized
hits rows plus the live fold — BITWISE equal to the full recompute
for horizon-respecting streams (pinned in tests; the hits array is
the user's complete report contribution, including the exact-median
deltas a count histogram could not carry). A horizon-VIOLATING
arrival (event time under the finalization watermark) is copied
loudly to the ``quarantine/`` store — never silently dropped — and
stays in the point store too, so live users' late points still fold;
only already-finalized users' results are frozen (their row is the
declared-horizon contract).

TWO FINALIZATION TIERS (r11): ``fin_mode="user"`` (default) persists
one ``(k, hits)`` row per closed user — reads flat in POINTS but
linear in the ever-closed user POPULATION (exact medians require the
per-user rows; the GC anti-join shuffles the fin-key set every
finalize). ``fin_mode="additive"`` folds closed users into
per-(anchor-period, step, DDSketch-latency-bucket) counts + exact
delta sums: reads are O(periods x steps + buckets) — flat in the
population — the GC anti-joins only each pass's newly-closed keys,
and live reads take the watermark COMPLEMENT (``anchor + horizon >=
wm``) instead of a key anti-join. Counts/rates/means stay bitwise the
exact tier; medians become DDSketch alpha-bounded; the unit of
account becomes the JOURNEY (a closed user re-entering with a new
step-0 at ``t >= wm`` counts again) — trades stated in
:meth:`FunnelPipeline._finalize_additive`, growth measured in
tools/scale_probe.py ``--finalize-pass`` (SCALE.md: at 1M ever-closed
users the exact tier's constant-work finalize is 2.1x its 10k cost —
the fin-key anti-join — and its reads grow monotonically, while the
additive tier is flat on both; the additive tier's fixed DDSketch
read overhead makes it the SLOWER choice below ~1M users — route
exact for small/medium populations, additive when the closed
population is the scaling dimension). Growth curves for the unbounded
store in ``--funnel-stream``, finalized-read curves in
``--finalize-stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.funnel import (
    funnel_from_points,
    funnel_report,
    funnel_report_additive,
    funnel_trend_report,
    funnel_trend_report_additive,
    hits_to_additive_rows,
    step_points,
    user_hits,
)
from ..store import (
    MergeableStore,
    Quarantine,
    compact_store,
    declared_types,
    run_foreach_batch,
)
from .staging import read_staged


class FunnelPipeline(MergeableStore):
    """foreachBatch-shaped funnel maintainer; see module docstring.
    ``write_batch`` per epoch, then :meth:`funnel` for the live
    drop-off table (bit-identical to the batch operator over the same
    events, pinned in tests)."""

    def __init__(
        self,
        base_dir: str,
        steps: list[str],
        key: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        horizon_seconds: int | None = None,
        compact_every: int | None = None,
        updates_schema: str | StructType | None = None,
        finalize_every: int | None = None,
        finalize_lateness_seconds: int | None = None,
        fin_mode: str = "user",
        fin_period_seconds: int = 86_400,
        fin_alpha: float = 0.01,
        fin_max_buckets: int | None = None,
        quarantine_prune_every: int | None = None,
    ) -> None:
        if (finalize_every is None) != (finalize_lateness_seconds is None):
            raise ValueError(
                "finalize_every and finalize_lateness_seconds come "
                "together: the cadence needs the declared lateness"
            )
        if fin_mode not in ("user", "additive"):
            raise ValueError(
                f"fin_mode must be 'user' or 'additive', got {fin_mode!r}"
            )
        ktype = declared_types(updates_schema, {key: "BIGINT"}, "funnel")[key]
        super().__init__(
            f"{base_dir}/pts", f"k {ktype}, us BIGINT, s INT", compact_every
        )
        self.base_dir = base_dir
        self.steps = list(steps)
        self.key = key
        self.ts_col = ts_col
        self.type_col = type_col
        self.horizon_seconds = horizon_seconds
        self.finalize_every = finalize_every
        self.finalize_lateness_seconds = finalize_lateness_seconds
        self.quarantine_prune_every = quarantine_prune_every
        self.fin_mode = fin_mode
        self.fin_period_seconds = fin_period_seconds
        self.fin_alpha = fin_alpha
        self.fin_max_buckets = fin_max_buckets
        self.pts_dir = self.path
        self.fin_dir = f"{base_dir}/fin"
        self.q_dir = f"{base_dir}/quarantine"
        self.quarantine_store = Quarantine(self.q_dir, self.schema)
        if fin_mode == "user":
            self.fin_schema = f"wm BIGINT, k {ktype}, hits ARRAY<BIGINT>"
        else:
            self.fin_schema = (
                "wm BIGINT, pstart BIGINT, step_idx INT, sgn INT,"
                " idx BIGINT, cnt BIGINT, sum_delta BIGINT"
            )
        self.fin = MergeableStore(
            self.fin_dir, self.fin_schema, fold=self._fin_fold
        )

    # -- reads ----------------------------------------------------------
    def points(self, spark: SparkSession) -> DataFrame:
        """The folded distinct (k, us, s) store (empty-safe)."""
        return self.read(spark)

    def _fin_raw(self, spark: SparkSession) -> DataFrame:
        return self.fin.raw(spark)

    def _fin(self, spark: SparkSession) -> DataFrame:
        """The finalized-user rows (wm, k, hits), folded (empty-safe).
        User mode only — the additive tier's rows are SUM-folded, so
        a distinct would corrupt them (readers consume `_fin_raw`)."""
        assert self.fin_mode == "user"
        return self._fin_raw(spark).distinct()

    def fin_watermark(self, spark: SparkSession) -> int | None:
        """The latest finalization cutoff (microseconds), or None
        before the first finalize — the quarantine boundary."""
        if not self.fin.exists(spark):
            return None
        wm = self._fin_raw(spark).agg(F.max("wm")).first()[0]
        return None if wm is None else int(wm)

    def live_points(self, spark: SparkSession) -> DataFrame:
        """The point store minus finalized users' points — finalized
        users' results are frozen in ``fin/``; any of their points
        still on disk (post-finalization arrivals, or a crash between
        the fin write and the GC) must not re-enter the fold."""
        fin_keys = self._fin(spark).select("k").distinct()
        return self.points(spark).join(fin_keys, "k", "anti")

    def _live_hits_additive(self, spark: SparkSession) -> DataFrame:
        """Additive-mode live hits: the watermark COMPLEMENT of every
        fold — a user whose chain closed under the watermark
        (``anchor + horizon < wm``) is by definition in the fin rows
        (each fold took ``[prev_wm, wm)`` of the closure line), so the
        live side serves exactly the rest. This replaces the exact
        tier's fin-key anti-join: no lifetime key set anywhere."""
        hits = user_hits(
            self.points(spark), self.steps, self.horizon_seconds
        )
        wm = self.fin_watermark(spark)
        if wm is None:
            return hits
        h_us = self.horizon_seconds * 1_000_000
        anchor = F.element_at("hits", 1)
        return hits.filter(
            anchor.isNull() | (anchor + h_us >= F.lit(wm))
        )

    def _additive_rows(self, spark: SparkSession) -> DataFrame:
        """fin rows + the live fold's additive projection — every
        column additive, so the union IS the merge."""
        live = hits_to_additive_rows(
            self._live_hits_additive(spark).select("hits"),
            self.steps,
            self.fin_period_seconds,
            self.fin_alpha,
        )
        fin = self._fin_raw(spark).select(
            "pstart", "step_idx", "sgn", "idx", "cnt", "sum_delta"
        )
        return live.unionByName(fin)

    def funnel(self, spark: SparkSession) -> DataFrame:
        """The live funnel — the batch aggregation over the point
        store (the fold is duplicate-tolerant, so the pre-distinct is
        free correctness, not a required pass). With finalized users
        present, the report aggregates their persisted rows together
        with the live fold. User mode: one ``hits`` row per finalized
        user — bitwise the full recompute, exact medians included.
        Additive mode: per-(period, step, latency-bucket) counts —
        counts/rates/means bitwise, medians DDSketch alpha-bounded,
        reads flat in the user population (the tier trade, routed in
        the class docstring)."""
        if self.fin_mode == "additive":
            return funnel_report_additive(
                self._additive_rows(spark),
                self.steps,
                self.fin_alpha,
                self.fin_max_buckets,
            )
        if not self.fin.exists(spark):
            return funnel_from_points(
                self.points(spark), self.steps, self.horizon_seconds
            )
        hits = user_hits(
            self.live_points(spark), self.steps, self.horizon_seconds
        ).select("hits").unionByName(self._fin(spark).select("hits"))
        return funnel_report(hits, self.steps)

    def trend(
        self, spark: SparkSession, period_seconds: int = 86_400
    ) -> DataFrame:
        """The per-anchor-period funnel (operators/funnel.py::
        funnel_trend) served from the store — finalized users'
        persisted rows carry their anchor (period), so the trend view
        costs nothing extra over the finalized base. User mode is
        bitwise the batch funnel_trend at ANY period; additive mode
        serves exact counts at any MULTIPLE of its baked
        ``fin_period_seconds`` (it traded per-user anchors away)."""
        if self.fin_mode == "additive":
            return funnel_trend_report_additive(
                self._additive_rows(spark),
                self.steps,
                period_seconds,
                self.fin_period_seconds,
            )
        live = user_hits(
            self.live_points(spark), self.steps, self.horizon_seconds
        ).select("hits")
        hits = (
            live.unionByName(self._fin(spark).select("hits"))
            if self.fin.exists(spark)
            else live
        )
        return funnel_trend_report(hits, self.steps, period_seconds)

    def quarantine(self, spark: SparkSession) -> DataFrame:
        """The horizon-violating points (qwm, k, us, s) — arrivals
        whose event time fell under the finalization watermark,
        stamped with the watermark that judged them. Loud by design:
        they are COPIED here (and counted via :meth:`quarantine_count`)
        while also remaining in the point store, so a live user's late
        point still folds; only a finalized user's frozen result
        ignores it. See store.Quarantine for the replay/retention
        contract."""
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
        """Declare an event-time lateness horizon and fold every
        provably-closed user into the ``fin/`` store: cutoff =
        ``max live event time - lateness``; a user whose
        ``anchor + horizon_seconds < cutoff`` can never be re-anchored
        (a new step-0 point at ``t >= cutoff > anchor`` never beats
        the earliest anchor) nor extended (slots close at
        ``anchor + horizon_seconds < cutoff <= t``), so their hits
        row is final. Their points are then garbage-collected from
        the point store (one compact_store pass, crash-safe: the
        read-side anti-join already excludes them the moment the fin
        epoch lands). Requires ``horizon_seconds`` — an unbounded
        chain window never closes. Returns
        ``{"finalized_users": n, "watermark": cutoff_us | None}``."""
        if self.horizon_seconds is None:
            raise ValueError(
                "finalize needs a declared funnel horizon_seconds: an "
                "unbounded chain window can be extended by any future "
                "event, so no user is ever provably closed"
            )
        if self.fin_mode == "additive":
            return self._finalize_additive(spark, lateness_seconds)
        live = self.live_points(spark)
        max_us = live.agg(F.max("us")).first()[0]
        prev = self.fin_watermark(spark)
        if max_us is None:
            return {"finalized_users": 0, "watermark": prev}
        cutoff = int(max_us) - lateness_seconds * 1_000_000
        if prev is not None and cutoff <= prev:
            return {"finalized_users": 0, "watermark": prev}
        h_us = self.horizon_seconds * 1_000_000
        anchor = F.element_at("hits", 1)
        newfin = (
            user_hits(live, self.steps, self.horizon_seconds)
            .filter(anchor.isNotNull() & (anchor + h_us < F.lit(cutoff)))
            .select(F.lit(cutoff).cast("long").alias("wm"), "k", "hits")
        )
        n = newfin.count()
        if n == 0:
            # no fin row -> the watermark cannot advance (it rides fin
            # rows so the fin epoch write is atomic with it); the
            # quarantine boundary stays at the previous finalize
            return {"finalized_users": 0, "watermark": prev}
        self.fin.append(newfin)
        # GC: every finalized user's points leave the store (also the
        # post-finalization arrivals of PREVIOUSLY finalized users)
        fin_keys = self._fin(spark).select("k").distinct()
        compact_store(
            spark,
            self.pts_dir,
            self.empty(spark),
            fold=lambda df: df.distinct().join(fin_keys, "k", "anti"),
        )
        return {"finalized_users": int(n), "watermark": cutoff}

    def _finalize_additive(
        self, spark: SparkSession, lateness_seconds: int
    ) -> dict:
        """The population-scale finalization tier: a provably-closed
        user folds into per-(anchor-period, step, DDSketch-bucket)
        COUNTS plus exact delta sums instead of a per-user hits row —
        the fin store is O(periods x steps x buckets), flat in the
        ever-closed population, and the GC anti-joins only THIS pass's
        newly-closed keys (batch-bounded) plus a time floor
        (``us >= cutoff - horizon``: every live user's chain-relevant
        point is at or above their anchor ``>= cutoff - horizon``;
        points below are closed users' leftovers or junk below any
        reachable anchor). Each fold takes the half-open closure
        interval ``prev_wm <= anchor + horizon < cutoff`` (the r11
        boundary partition rule), so live reads serve exactly the
        complement via the watermark filter — no fin-key set, no
        lifetime shuffle.

        THE TRADES, stated: (1) medians become DDSketch alpha-bounded
        (counts/rates/means stay bitwise); (2) the unit of account
        becomes the JOURNEY — a finalized user who re-enters the
        funnel with a NEW step-0 at ``t >= wm`` counts again (the
        exact tier's fin-key anti-join would freeze them). Route
        accordingly: exact tier for lifetime-user semantics, additive
        tier for billion-user populations.

        Crash windows, covered without the key set: a crash between
        the fin write and the GC leaves the folded users' points on
        disk — the live read's watermark complement excludes their
        rebuilt chains (``anchor + horizon < wm``), bitwise (pinned
        with the GC monkeypatched out). A replay of any PRE-finalize
        epoch after the GC is SHADOWED outright: the GC's
        compact_store committed ``base_upto = max epoch``, and the
        store ignores re-created epoch dirs at or under the base's
        upto — so a partial replay cannot re-surface a folded user's
        secondary step-0 as a spurious journey (pinned)."""
        pts = self.points(spark)
        max_us = pts.agg(F.max("us")).first()[0]
        prev = self.fin_watermark(spark)
        if max_us is None:
            return {"finalized_users": 0, "watermark": prev}
        cutoff = int(max_us) - lateness_seconds * 1_000_000
        if prev is not None and cutoff <= prev:
            return {"finalized_users": 0, "watermark": prev}
        h_us = self.horizon_seconds * 1_000_000
        hits = user_hits(pts, self.steps, self.horizon_seconds)
        anchor = F.element_at("hits", 1)
        lower = prev if prev is not None else -(1 << 62)
        closable = hits.filter(
            anchor.isNotNull()
            & (anchor + h_us < F.lit(cutoff))
            & (anchor + h_us >= F.lit(lower))
        )
        n = closable.count()
        if n == 0:
            return {"finalized_users": 0, "watermark": prev}
        newfin = hits_to_additive_rows(
            closable.select("hits"),
            self.steps,
            self.fin_period_seconds,
            self.fin_alpha,
        ).select(
            F.lit(cutoff).cast("long").alias("wm"),
            "pstart",
            "step_idx",
            "sgn",
            "idx",
            "cnt",
            "sum_delta",
        )
        self.fin.append(newfin)
        # GC: this pass's newly-closed keys (batch-bounded anti-join —
        # never the lifetime key set) + the time floor
        new_keys = closable.select("k").distinct()
        compact_store(
            spark,
            self.pts_dir,
            self.empty(spark),
            fold=lambda df: df.distinct()
            .join(new_keys, "k", "anti")
            .filter(F.col("us") >= F.lit(cutoff - h_us)),
        )
        return {"finalized_users": int(n), "watermark": cutoff}

    # -- the store's algebra ----------------------------------------------
    def fold(self, df: DataFrame) -> DataFrame:
        """Distinct — same fold as the reader, so compaction is
        invisible (pinned in tests)."""
        return df.distinct()

    def _fin_fold(self, df: DataFrame) -> DataFrame:
        """The fin store's associative fold: user mode is distinct
        (one row per closed user; replays overwrite); additive mode is
        the regroup-sum (cnt/sum_delta additive, wm by max — the
        watermark only ever reads as a max, so folding epochs with
        different wm stamps is reader-invisible)."""
        if self.fin_mode == "user":
            return df.distinct()
        return df.groupBy(
            "pstart", "step_idx", "sgn", "idx"
        ).agg(
            F.max("wm").alias("wm"),
            F.sum("cnt").alias("cnt"),
            F.sum("sum_delta").alias("sum_delta"),
        ).select(
            "wm", "pstart", "step_idx", "sgn", "idx", "cnt", "sum_delta"
        )

    # -- write path (foreachBatch) ---------------------------------------
    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        pts = step_points(
            batch_df, self.steps, self.key, self.ts_col, self.type_col
        ).distinct()
        # horizon violations (event time under the finalization
        # watermark) are COPIED to quarantine — loud, never silently
        # dropped — while the pts epoch keeps the FULL batch, so the
        # pts content stays a stateless projection (replay-idempotent)
        # and live users' late points still fold
        # strict <: an arrival at exactly the watermark is
        # horizon-respecting (the contract admits t >= wm) and can
        # never affect a finalized user (their anchor + horizon < wm),
        # so us == wm is NOT a violation — the funnel's boundary is
        # consistent with the attribution pipeline's fold-exclusive /
        # live-inclusive split by construction
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
        """Tail-fold the fin store's epoch deltas — one epoch lands
        per finalize, so a long-lived stream accumulates them without
        bound; both fin folds are associative (see :meth:`_fin_fold`),
        making the tail fold reader-invisible (pinned in tests). The
        additive mode's fold also CONTRACTS the store (bucket rows
        from different finalizes merge), so it doubles as the fin
        store's deep clean."""
        return self.fin.compact_tail(spark, keep_recent)


def streaming_funnel(
    spark: SparkSession,
    staged_events_dir: str,
    events_schema: str,
    base_dir: str,
    checkpoint_dir: str,
    steps: list[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    horizon_seconds: int | None = None,
    max_files_per_trigger: int = 1,
    trigger: dict | None = None,
    compact_every: int | None = None,
    finalize_every: int | None = None,
    finalize_lateness_seconds: int | None = None,
    fin_mode: str = "user",
    fin_period_seconds: int = 86_400,
    fin_alpha: float = 0.01,
):
    """Wire a staged event-log directory through the funnel maintainer
    (file order = ingest order, the streaming/dedup.py convention).
    Returns the started StreamingQuery; read the live funnel with
    ``FunnelPipeline(base_dir, steps, ...).funnel(spark)``."""
    pipe = FunnelPipeline(
        base_dir,
        steps,
        key,
        ts_col,
        type_col,
        horizon_seconds=horizon_seconds,
        compact_every=compact_every,
        updates_schema=events_schema,
        finalize_every=finalize_every,
        finalize_lateness_seconds=finalize_lateness_seconds,
        fin_mode=fin_mode,
        fin_period_seconds=fin_period_seconds,
        fin_alpha=fin_alpha,
    )
    stream = read_staged(
        spark, events_schema, staged_events_dir, max_files_per_trigger
    )
    return run_foreach_batch(stream, pipe.write_batch, checkpoint_dir, trigger)
