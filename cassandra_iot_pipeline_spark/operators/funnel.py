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
events by user; the fold state is k BIGINTs per user.  HOT-KEY BOUND:
``groupBy(k).agg(sort_array(collect_list))`` materializes each user's
full step-typed event list in ONE aggregation buffer, so a bot key
owning a large corpus fraction concentrates that fraction of step
events into a single task — measured in tools/scale_probe.py
``--funnel`` (the
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
