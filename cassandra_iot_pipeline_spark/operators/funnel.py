"""Ordered multi-step funnel analysis — how many users complete each
step of an ordered sequence (view -> click -> purchase), each step
strictly after the previous one, optionally within a horizon of the
first step.

Reference tie-in: the reference's serving reads answer per-device
"latest events" and "hourly aggregates" (init.cql:19-54); the product
question layered on the same stream — do users progress through an
ordered sequence of event types, and where do they drop off? — is the
funnel.  The conversion-pair operators (operators/rangejoin.py,
streaming/joins.py) answer the 2-step form; this is the k-step
generalization with greedy-earliest semantics.

Semantics (greedy-earliest chain, the standard funnel contract):
``t_0 = min ts of a step-0 event``; ``t_i = min ts of a step-i event
with ts > t_{i-1}`` (strictly after — same-microsecond events do NOT
chain), and, when ``horizon_seconds`` is set, ``ts <= t_0 + horizon``.
Every timestamp is integer MICROSECONDS (``unix_micros``) so the
comparisons are exact and engine-independent.

Plan shape (pure Catalyst, no UDFs): filter to the step types (pushed
to the scan as an IN filter), ONE user-keyed exchange into
``collect_list(struct(us, s))``, ``sort_array`` + an ``aggregate``
higher-order-function fold that fills a k-slot timestamp array —
O(n_events_per_user * k) inside whole-stage codegen, no per-row
Python.  Everything after the fold is user-bounded (k rows per user),
then step-bounded (k rows total): posexplode -> groupBy(step) ->
broadcast join onto the k-row step frame -> two windows over k rows
for the conversion rates.  Counts and time-deltas accumulate as exact
BIGINTs; each output rate is ONE IEEE division, mirrored by the
oracle (the repo's exactmath discipline).

100 TB: the only data-wide work is the one exchange of step-typed
events by user; the fold state is k BIGINTs per user.  HOT-KEY BOUND
(the mad_outliers class): ``groupBy(k).agg(sort_array(collect_list))``
materializes each user's full step-typed event list in ONE aggregation
buffer, so a bot key owning a large corpus fraction concentrates that
fraction of step events into a single task — measured in
tools/scale_probe.py ``--funnel`` (the
``funnel_4step_skewed_hotkey_20pct`` row: one key absorbing 1-in-5 of
20M events; SCALE.md records the uniform-vs-skewed delta).  The slice
is step-TYPED (bounded in sane corpora); for corpora with bot devices
emitting millions of funnel-typed events, cap them upstream with
``functions.cleaning.cap_events_per_key`` (deterministic
keep-earliest-N per (key, type); its salted scale path splits even the
bot key's own sort) — measured in the same probe: the capped skewed
corpus runs at the uniform corpus's speed. The same caveat as any
per-user sessionization, now with the tool to act on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..litframe import literal_frame


def _fold_expr(k: int, horizon_us: int | None) -> str:
    """SQL for the greedy slot-filling fold over the sorted event
    array.  ``acc`` is a k-slot BIGINT array (1-based via element_at);
    slot i fills with the first event of step i whose timestamp is
    strictly after slot i-1 (and inside the horizon from slot 0)."""
    horizon = (
        ""
        if horizon_us is None
        else f" AND (e.s = 0 OR e.us <= element_at(acc, 1) + {horizon_us})"
    )
    return f"""
        aggregate(
            evs,
            array_repeat(CAST(NULL AS BIGINT), {k}),
            (acc, e) -> transform(acc, (v, i) ->
                CASE WHEN i = e.s AND v IS NULL
                          AND (e.s = 0 OR element_at(acc, e.s) IS NOT NULL)
                          AND (e.s = 0 OR e.us > element_at(acc, e.s))
                          {horizon}
                     THEN e.us ELSE v END)
        )
    """


def _validate_steps(steps: list[str]) -> None:
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct, got {steps}")


def step_points(
    events: DataFrame,
    steps: list[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(k, us, s): the stateless step-event projection the funnel
    builds on — key, integer-microsecond timestamp, 0-based step
    index. Only funnel-typed events survive (the IN filter pushes to
    the scan)."""
    _validate_steps(steps)
    s = F.lit(None).cast("int")
    for i in reversed(range(len(steps))):
        s = F.when(F.col(type_col) == steps[i], F.lit(i)).otherwise(s)
    return events.filter(F.col(type_col).isin(list(steps))).select(
        F.col(key).alias("k"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        s.alias("s"),
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    horizon_seconds: int | None = None,
) -> DataFrame:
    """(step_idx, step, n_users, conversion, step_rate,
    avg_micros_from_first, median_micros_from_first): per funnel
    step, how many distinct keys reach it under the greedy-earliest
    chain, the fraction of step-0 completers who reach it
    (``conversion``), the fraction of the PREVIOUS step's completers
    who reach it (``step_rate``), and the mean / exact interpolated
    median microseconds from each user's step-0 time (mean: exact
    BIGINT sum, one division; median: the value_quantiles percentile
    contract).  All k steps appear even when nobody reaches them
    (n_users = 0, rates NULL)."""
    return funnel_from_points(
        step_points(events, steps, key, ts_col, type_col),
        steps,
        horizon_seconds,
    )


def user_hits(
    pts: DataFrame,
    steps: list[str],
    horizon_seconds: int | None = None,
) -> DataFrame:
    """(k, hits): each user's greedy-chain slot array — the per-user
    FOLD RESULT, which is also the user's complete contribution to the
    report (:func:`funnel_report` needs nothing else)."""
    _validate_steps(steps)
    k = len(steps)
    horizon_us = None if horizon_seconds is None else horizon_seconds * 1_000_000
    return (
        pts.select(
            "k", F.struct(F.col("us"), F.col("s")).alias("ev")
        )
        .groupBy("k")
        .agg(F.sort_array(F.collect_list("ev")).alias("evs"))
        .select("k", F.expr(_fold_expr(k, horizon_us)).alias("hits"))
    )


def funnel_report(hits_df: DataFrame, steps: list[str]) -> DataFrame:
    """The report aggregation over per-user ``hits`` arrays (from
    :func:`user_hits`) — counts, conversion/step rates, exact
    mean/median micros from each user's step-0 time."""
    _validate_steps(steps)
    # hits[0] is the user's step-0 time whenever ANY slot is filled
    # (slot 0 gates the chain), so the per-user delta comes straight
    # from the array — no second per-user pass.
    reached = (
        hits_df.select(
            F.element_at("hits", 1).alias("t0"),
            F.posexplode("hits").alias("step_idx", "us"),
        )
        .filter(F.col("us").isNotNull())
        .groupBy("step_idx")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("us") - F.col("t0")).alias("sum_delta"),
            # exact interpolated median on BIGINT micros — the same
            # cross-engine-exact percentile contract as
            # stats.value_quantiles (Spark percentile ≡ DuckDB
            # quantile_cont; half-fraction interpolation on integers
            # is exact)
            F.percentile(F.col("us") - F.col("t0"), F.lit(0.5)).alias(
                "med_delta"
            ),
        )
    )

    spark = hits_df.sparkSession
    step_frame = literal_frame(
        spark,
        [(i, name) for i, name in enumerate(steps)],
        "step_idx INT, step STRING",
    )
    joined = (
        step_frame.join(F.broadcast(reached), "step_idx", "left")
        .select(
            "step_idx",
            "step",
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
            "sum_delta",
            "med_delta",
        )
    )
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("step_idx")
    n0 = F.max(F.when(F.col("step_idx") == 0, F.col("n_users"))).over(w_all)
    n_prev = F.lag("n_users").over(w_ord)
    return joined.select(
        "step_idx",
        "step",
        "n_users",
        F.when(
            n0 > 0, F.col("n_users").cast("double") / n0
        ).alias("conversion"),
        F.when(
            n_prev > 0, F.col("n_users").cast("double") / n_prev
        ).alias("step_rate"),
        F.when(
            F.col("n_users") > 0,
            F.col("sum_delta").cast("double") / F.col("n_users"),
        ).alias("avg_micros_from_first"),
        F.col("med_delta").alias("median_micros_from_first"),
    )


def funnel_from_points(
    pts: DataFrame,
    steps: list[str],
    horizon_seconds: int | None = None,
) -> DataFrame:
    """The funnel aggregation over (k, us, s) step points — see
    :func:`funnel`.  Duplicate points are fine (the greedy fold fills
    each slot once; a duplicate of a filled slot's event can never
    beat the strict ``>``), so callers can feed raw projections or a
    pre-distincted store. Composition of :func:`user_hits` and
    :func:`funnel_report`."""
    return funnel_report(
        user_hits(pts, steps, horizon_seconds).select("hits"), steps
    )


def funnel_oracle(
    steps: list[str],
    table: str = "events",
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    horizon_seconds: int | None = None,
) -> str:
    """DuckDB twin of :func:`funnel`: the greedy chain as a CTE ladder
    (``t_i = min us of a step-i event strictly after t_{i-1}``), which
    is provably the same assignment the fold computes — the fold
    processes events in ascending-time order, so slot i-1 is already
    filled when the earliest qualifying step-i event is reached."""
    k = len(steps)
    horizon_us = None if horizon_seconds is None else horizon_seconds * 1_000_000
    ctes = [
        f"""t0 AS (
            SELECT {key} AS k, MIN(epoch_us({ts_col})) AS t,
                   MIN(epoch_us({ts_col})) AS first_t
            FROM {table} WHERE {type_col} = '{steps[0]}' GROUP BY 1
        )"""
    ]
    for i in range(1, k):
        horizon = (
            ""
            if horizon_us is None
            else f" AND epoch_us(e.{ts_col}) <= p.first_t + {horizon_us}"
        )
        ctes.append(
            f"""t{i} AS (
                SELECT e.{key} AS k, MIN(epoch_us(e.{ts_col})) AS t,
                       p.first_t AS first_t
                FROM {table} e JOIN t{i - 1} p ON e.{key} = p.k
                WHERE e.{type_col} = '{steps[i]}'
                  AND epoch_us(e.{ts_col}) > p.t{horizon}
                GROUP BY 1, 3
            )"""
        )
    step_values = ", ".join(
        f"({i}, '{name}')" for i, name in enumerate(steps)
    )
    count_selects = "\n UNION ALL ".join(
        f"SELECT {i} AS step_idx, COUNT(*) AS n_users,"
        f" SUM(t - first_t) AS sum_delta,"
        f" quantile_cont(t - first_t, 0.5) AS med_delta FROM t{i}"
        for i in range(k)
    )
    return f"""
        WITH {",".join(ctes)},
        counts AS ({count_selects}),
        steps(step_idx, step) AS (VALUES {step_values}),
        joined AS (
            SELECT s.step_idx, s.step,
                   COALESCE(c.n_users, 0) AS n_users, c.sum_delta,
                   c.med_delta
            FROM steps s LEFT JOIN counts c USING (step_idx)
        )
        SELECT step_idx, step, n_users,
               CASE WHEN MAX(CASE WHEN step_idx = 0 THEN n_users END)
                         OVER () > 0
                    THEN CAST(n_users AS DOUBLE)
                         / MAX(CASE WHEN step_idx = 0 THEN n_users END)
                           OVER ()
               END AS conversion,
               CASE WHEN LAG(n_users) OVER (ORDER BY step_idx) > 0
                    THEN CAST(n_users AS DOUBLE)
                         / LAG(n_users) OVER (ORDER BY step_idx)
               END AS step_rate,
               CASE WHEN n_users > 0
                    THEN CAST(sum_delta AS DOUBLE) / n_users
               END AS avg_micros_from_first,
               med_delta AS median_micros_from_first
        FROM joined
    """


def funnel_trend(
    events: DataFrame,
    steps: list[str],
    period_seconds: int = 86_400,
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    horizon_seconds: int | None = None,
) -> DataFrame:
    """(period_start, step_idx, step, n_users, conversion): the funnel
    TRENDED by the chain's anchor period — for each period (floor of
    the user's step-0 time to ``period_seconds``, the exactmath
    integer-floor alignment), how many users who anchored in it
    reached each step, and the per-period conversion fraction. The
    standard "is this week's funnel worse than last week's" view;
    each user counts in exactly ONE period (their greedy anchor's),
    so columns sum to the plain :func:`funnel` counts.

    Plan: the same ONE user-keyed exchange as :func:`funnel`
    (:func:`user_hits`), then a (period x step)-bounded aggregation;
    the period/step grid is observed-anchor-periods x steps
    (zero-filled — a period with anchors but no step-i completers
    still shows its zero), broadcast on the step side. Exact BIGINT
    counts; the conversion fraction is one IEEE division."""
    pts = step_points(events, steps, key, ts_col, type_col)
    return funnel_trend_report(
        user_hits(pts, steps, horizon_seconds).select("hits"),
        steps,
        period_seconds,
    )


def funnel_trend_report(
    hits_df: DataFrame,
    steps: list[str],
    period_seconds: int = 86_400,
) -> DataFrame:
    """The trend aggregation over per-user ``hits`` arrays — the
    :func:`funnel_report` split applied to :func:`funnel_trend`."""
    _validate_steps(steps)
    p_us = period_seconds * 1_000_000
    t0 = F.element_at("hits", 1)
    anchored = hits_df.filter(t0.isNotNull()).select(
        (t0 - F.pmod(t0, F.lit(p_us))).alias("pstart"),
        "hits",
    )
    reached = (
        anchored.select("pstart", F.posexplode("hits").alias("step_idx", "us"))
        .filter(F.col("us").isNotNull())
        .groupBy("pstart", "step_idx")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    spark = hits_df.sparkSession
    step_frame = literal_frame(
        spark,
        [(i, name) for i, name in enumerate(steps)],
        "step_idx INT, step STRING",
    )
    grid = (
        anchored.select("pstart")
        .distinct()
        .crossJoin(F.broadcast(step_frame))
    )
    joined = grid.join(reached, ["pstart", "step_idx"], "left").select(
        "pstart",
        "step_idx",
        "step",
        F.coalesce("n_users", F.lit(0)).alias("n_users"),
    )
    w_p = Window.partitionBy("pstart")
    n0 = F.max(F.when(F.col("step_idx") == 0, F.col("n_users"))).over(w_p)
    return joined.select(
        F.timestamp_micros(F.col("pstart")).alias("period_start"),
        "step_idx",
        "step",
        "n_users",
        F.when(
            n0 > 0, F.col("n_users").cast("double") / n0
        ).alias("conversion"),
    )


def funnel_trend_oracle(
    steps: list[str],
    period_seconds: int = 86_400,
    table: str = "events",
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    horizon_seconds: int | None = None,
) -> str:
    """DuckDB twin of :func:`funnel_trend` — the :func:`funnel_oracle`
    CTE ladder grouped by the anchor's floored period (BIGINT ``%``
    mirrors pmod on the non-negative fixture epochs)."""
    k = len(steps)
    p_us = period_seconds * 1_000_000
    horizon_us = (
        None if horizon_seconds is None else horizon_seconds * 1_000_000
    )
    ctes = [
        f"""t0 AS (
            SELECT {key} AS k, MIN(epoch_us({ts_col})) AS t,
                   MIN(epoch_us({ts_col})) AS first_t
            FROM {table} WHERE {type_col} = '{steps[0]}' GROUP BY 1
        )"""
    ]
    for i in range(1, k):
        horizon = (
            ""
            if horizon_us is None
            else f" AND epoch_us(e.{ts_col}) <= p.first_t + {horizon_us}"
        )
        ctes.append(
            f"""t{i} AS (
                SELECT e.{key} AS k, MIN(epoch_us(e.{ts_col})) AS t,
                       p.first_t AS first_t
                FROM {table} e JOIN t{i - 1} p ON e.{key} = p.k
                WHERE e.{type_col} = '{steps[i]}'
                  AND epoch_us(e.{ts_col}) > p.t{horizon}
                GROUP BY 1, 3
            )"""
        )
    step_values = ", ".join(
        f"({i}, '{name}')" for i, name in enumerate(steps)
    )
    count_selects = "\n UNION ALL ".join(
        f"SELECT first_t - (first_t % {p_us}) AS pstart,"
        f" {i} AS step_idx, COUNT(*) AS n_users FROM t{i} GROUP BY 1"
        for i in range(k)
    )
    return f"""
        WITH {",".join(ctes)},
        counts AS ({count_selects}),
        steps(step_idx, step) AS (VALUES {step_values}),
        grid AS (
            SELECT DISTINCT first_t - (first_t % {p_us}) AS pstart
            FROM t0
        ),
        joined AS (
            SELECT g.pstart, s.step_idx, s.step,
                   COALESCE(c.n_users, 0) AS n_users
            FROM grid g CROSS JOIN steps s
            LEFT JOIN counts c
              ON c.pstart = g.pstart AND c.step_idx = s.step_idx
        )
        SELECT make_timestamp(pstart) AS period_start, step_idx, step,
               n_users,
               CASE WHEN MAX(CASE WHEN step_idx = 0 THEN n_users END)
                         OVER (PARTITION BY pstart) > 0
                    THEN CAST(n_users AS DOUBLE)
                         / MAX(CASE WHEN step_idx = 0 THEN n_users END)
                           OVER (PARTITION BY pstart)
               END AS conversion
        FROM joined
    """


def funnel_segmented(
    events: DataFrame,
    steps: list[str],
    segments: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    segment_col: str = "segment",
    horizon_seconds: int | None = None,
) -> DataFrame:
    """(segment, step_idx, step, n_users, conversion, step_rate): the
    funnel broken down by a user DIMENSION — ``segments`` maps key ->
    segment (a customer-dimension projection; one row per key). Where
    does each cohort of users drop off, comparatively?

    Semantics: each user's chain is computed exactly as in
    :func:`funnel` (segments never change the chain); the user then
    counts toward their segment's rows. Users absent from
    ``segments`` land in segment NULL rather than silently dropping
    (an outer-joined dimension row is a data-quality signal).
    Unlike :func:`funnel`, only (segment, step) pairs with at least
    one step-0 user in the segment appear (an all-segments x
    all-steps dense frame needs the segment universe, which belongs
    to the caller).

    Plan: the same ONE user-keyed exchange + fold; the segment
    attaches to the per-user fold RESULT via a broadcast join (k-sized
    dimension probe, the J1 enrichment shape), so the events-wide
    stage is untouched; rates come from windows over the
    (segments x k)-bounded matrix."""
    _validate_steps(steps)
    pts = step_points(events, steps, key, ts_col, type_col)
    per_user = user_hits(pts, steps, horizon_seconds)
    seg = segments.select(
        F.col(key).alias("k"), F.col(segment_col).alias("segment")
    )
    reached = (
        per_user.join(F.broadcast(seg), "k", "left")
        .select("segment", F.posexplode("hits").alias("step_idx", "us"))
        .filter(F.col("us").isNotNull())
        .groupBy("segment", "step_idx")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    spark = pts.sparkSession
    step_frame = literal_frame(
        spark,
        [(i, name) for i, name in enumerate(steps)],
        "step_idx INT, step STRING",
    )
    w_seg = Window.partitionBy("segment")
    w_ord = Window.partitionBy("segment").orderBy("step_idx")
    n0 = F.max(
        F.when(F.col("step_idx") == 0, F.col("n_users"))
    ).over(w_seg)
    n_prev = F.lag("n_users").over(w_ord)
    return (
        reached.join(F.broadcast(step_frame), "step_idx")
        .select(
            "segment",
            "step_idx",
            "step",
            "n_users",
            F.when(
                n0 > 0, F.col("n_users").cast("double") / n0
            ).alias("conversion"),
            F.when(
                n_prev > 0, F.col("n_users").cast("double") / n_prev
            ).alias("step_rate"),
        )
    )


def funnel_segmented_oracle(
    steps: list[str],
    table: str = "events",
    segments_table: str = "segments",
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    segment_col: str = "segment",
    horizon_seconds: int | None = None,
) -> str:
    """DuckDB twin of :func:`funnel_segmented` (``segments_table``
    must be registered as a view over the same dimension frame)."""
    k = len(steps)
    horizon_us = (
        None if horizon_seconds is None else horizon_seconds * 1_000_000
    )
    ctes = [
        f"""t0 AS (
            SELECT {key} AS k, MIN(epoch_us({ts_col})) AS t,
                   MIN(epoch_us({ts_col})) AS first_t
            FROM {table} WHERE {type_col} = '{steps[0]}' GROUP BY 1
        )"""
    ]
    for i in range(1, k):
        horizon = (
            ""
            if horizon_us is None
            else f" AND epoch_us(e.{ts_col}) <= p.first_t + {horizon_us}"
        )
        ctes.append(
            f"""t{i} AS (
                SELECT e.{key} AS k, MIN(epoch_us(e.{ts_col})) AS t,
                       p.first_t AS first_t
                FROM {table} e JOIN t{i - 1} p ON e.{key} = p.k
                WHERE e.{type_col} = '{steps[i]}'
                  AND epoch_us(e.{ts_col}) > p.t{horizon}
                GROUP BY 1, 3
            )"""
        )
    step_values = ", ".join(
        f"({i}, '{name}')" for i, name in enumerate(steps)
    )
    count_selects = "\n UNION ALL ".join(
        f"""SELECT s.{segment_col} AS segment, {i} AS step_idx,
                   COUNT(*) AS n_users
            FROM t{i} LEFT JOIN {segments_table} s
              ON t{i}.k = s.{key}
            GROUP BY 1"""
        for i in range(k)
    )
    return f"""
        WITH {",".join(ctes)},
        counts AS ({count_selects}),
        steps(step_idx, step) AS (VALUES {step_values})
        SELECT c.segment, c.step_idx, st.step, c.n_users,
               CASE WHEN MAX(CASE WHEN c.step_idx = 0 THEN c.n_users
                             END) OVER (PARTITION BY c.segment) > 0
                    THEN CAST(c.n_users AS DOUBLE)
                         / MAX(CASE WHEN c.step_idx = 0
                                    THEN c.n_users END)
                           OVER (PARTITION BY c.segment)
               END AS conversion,
               CASE WHEN LAG(c.n_users) OVER (
                        PARTITION BY c.segment ORDER BY c.step_idx
                    ) > 0
                    THEN CAST(c.n_users AS DOUBLE)
                         / LAG(c.n_users) OVER (
                               PARTITION BY c.segment
                               ORDER BY c.step_idx
                           )
               END AS step_rate
        FROM counts c JOIN steps st USING (step_idx)
    """
