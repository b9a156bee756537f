"""Hypertable serving primitives over raw event points — the
irregular-sample siblings of the bucketed gap-fill (operators/
gapfill.py): time-weighted averages and counter rates.

Why these two: the reference's consumers read hourly AVG/MAX/MIN
rollups (iot-cassandra-pipeline/src/spark_consumer.py:169-186), which
silently assume samples arrive uniformly — a device reporting 59
minutes of 20.0 and 1 minute of 80.0 averages to 50.0 under COUNT
weighting but 21.0 under time weighting. TimescaleDB ships exactly
this pair (`time_weight('LOCF', ...)`, `rate`/`delta` on counters) as
its hyperfunction core; this module re-expresses them as pure-Catalyst
window plans with the repo's exactness discipline.

Plan shape (both): ONE raw scan, one shuffle into the per-key window
sort, lead()/lag() pairing, then a partial-aggregable groupBy — the
same lead()-anchored pattern as the gap-fill, no joins, no second
scan. Both integrate at the MICROSECOND grain (r6/r7 ADVICE — whole
seconds dropped sub-second weights entirely); integral numerators are
exact integers (DECIMAL(38,0) for the time-weight sum — the units x
us products outgrow BIGINT for hot keys), so partial aggregation
order cannot perturb the result; the final divisions per key are
correctly-rounded IEEE ops (deterministic, the exactmath.py rule).

NULL measures are filtered before pairing (the gap-fill's r5 ADVICE
posture): a NULL sample neither anchors an interval nor resets a
counter.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import exactmath


def _keys(key: str | Sequence[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def time_weighted_avg(
    df: DataFrame,
    key: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value: str | Column = "value",
    scale: int = 2,
) -> DataFrame:
    """LOCF time-weighted average per key over each key's observed span
    — TimescaleDB's ``time_weight('LOCF', ts, value)`` semantics: each
    observation holds until the next one, so its weight is the seconds
    to its successor; the last observation closes the span with weight
    0. Keys with a single observation (span 0) report that
    observation's value exactly — the 0/0 integral's LOCF limit.

    Output: (key..., span_us, n_samples, tw_avg) where ``tw_avg`` is
    the integral of the step function divided by the span, in the
    measure's own scale. The integration grain is MICROSECONDS (r7
    verdict #4, completing the r6 ``counter_rate`` fix): two samples
    inside one second now weight by their true sub-second durations
    where the old whole-second form gave the earlier one zero weight.

    Overflow story for the ``units x microseconds`` numerator: the
    whole-second BIGINT sum was already within ~2^43 of wrapping for
    hot keys, and the 10^6 grain change would blow straight through
    2^63 (scale-2 values of ~10^4 sustained over a 30-year span reach
    ~10^21) — so the numerator accumulates as DECIMAL(38,0): each
    ``u x dus`` product is < 2^126 < 10^38 (exact — both factors are
    int64), the sum is exact to 10^38 (an in-plan raise guards the
    absurd beyond), and partial-aggregation order cannot perturb an
    exact integer sum. ``span_us`` telescopes to last-first per key,
    so its BIGINT sum cannot wrap. The one numerator->double cast and
    two divisions per key are correctly rounded IEEE ops, mirrored by
    the oracle's HUGEINT sum (exact int128) + identical cast/divide
    sequence.

    100 TB shape: one scan, one shuffle into the per-key window, then
    a partial-aggregable groupBy on the same key — the window exchange
    IS the aggregation's required clustering, so AQE plans a single
    wide stage. Ties on ``ts`` are ordered by the value's units for a
    deterministic step function regardless of partition layout."""
    keys = _keys(key)
    vcol = F.col(value) if isinstance(value, str) else value
    units = exactmath.units(vcol, scale)
    pts = df.filter(vcol.isNotNull()).select(
        *keys,
        F.unix_micros(F.col(ts_col)).alias("t_us"),
        units.alias("u"),
    )
    w = Window.partitionBy(*keys).orderBy("t_us", "u")
    paired = pts.select(
        *keys,
        "t_us",
        "u",
        F.lead("t_us").over(w).alias("t_next"),
    )
    # weight = microseconds this sample is the latest one; last sample
    # -> 0. Exactly one row per key has a NULL lead (the order-final
    # sample), so its value survives as MAX over the otherwise-NULL
    # column — the span-closing sample without a second window pass.
    weighted = paired.select(
        *keys,
        "u",
        (F.coalesce(F.col("t_next"), F.col("t_us")) - F.col("t_us")).alias(
            "dus"
        ),
        F.when(F.col("t_next").isNull(), F.col("u")).alias("u_last"),
    )
    agg = weighted.groupBy(*keys).agg(
        F.sum(F.col("u").cast("decimal(38,0)") * F.col("dus")).alias("num"),
        F.sum("dus").alias("span_us"),
        F.count(F.lit(1)).alias("n_samples"),
        F.max("u_last").alias("last_u"),
    )
    # non-ANSI decimal sum overflow is a silent NULL — keep it loud
    # (num is never legitimately NULL: every key has >= 1 non-null
    # sample). Only reachable past 10^38 units x us per key.
    num_ok = F.when(F.col("num").isNotNull(), F.col("num")).otherwise(
        F.raise_error(
            F.lit("time_weighted_avg: numerator exceeded decimal(38,0)")
        )
    )
    divisor = F.lit(float(10**scale))
    tw = F.when(
        F.col("span_us") > 0,
        num_ok.cast("double") / F.col("span_us").cast("double") / divisor,
    ).otherwise(F.col("last_u").cast("double") / divisor)
    return agg.select(
        *keys, "span_us", "n_samples", tw.alias("tw_avg")
    )


def time_weighted_avg_oracle(
    table: str = "events",
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_expr: str = "value",
    scale: int = 2,
) -> str:
    """DuckDB twin of :func:`time_weighted_avg`: identical LOCF
    weighting at the microsecond grain, identical tie order, and an
    exact integer numerator on both sides — DuckDB sums
    ``HUGEINT x BIGINT`` products in int128 where Spark sums
    DECIMAL(38,0); both are exact integers, and both engines perform
    the same cast->divide->divide IEEE sequence on them."""
    ks = ", ".join(keys)
    units = exactmath.oracle_units(value_expr, scale)
    div = float(10**scale)
    return f"""
        WITH pts AS (
            SELECT {ks},
                   epoch_us({ts_col}) AS t_us,
                   {units} AS u
            FROM {table}
            WHERE ({value_expr}) IS NOT NULL
        ),
        paired AS (
            SELECT {ks}, u,
                   COALESCE(LEAD(t_us) OVER w, t_us) - t_us AS dus,
                   CASE WHEN LEAD(t_us) OVER w IS NULL THEN u END AS u_last
            FROM pts
            WINDOW w AS (PARTITION BY {ks} ORDER BY t_us, u)
        )
        SELECT {ks},
               -- DuckDB SUM(BIGINT) is HUGEINT; BIGINT keeps the dtype
               -- class aligned with Spark's LONG (the type_pivot lesson)
               CAST(SUM(dus) AS BIGINT) AS span_us,
               COUNT(*) AS n_samples,
               CASE WHEN SUM(dus) > 0
                    THEN CAST(SUM(CAST(u AS HUGEINT) * dus) AS DOUBLE)
                         / CAST(SUM(dus) AS DOUBLE) / {div}
                    ELSE CAST(MAX(u_last) AS DOUBLE) / {div}
               END AS tw_avg
        FROM paired
        GROUP BY {ks}
    """


def counter_rate(
    df: DataFrame,
    key: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value: str | Column = "value",
    scale: int = 2,
) -> DataFrame:
    """Per-interval delta and rate of a monotonic counter with reset
    detection — the Prometheus/TimescaleDB ``rate()`` contract: a
    sample BELOW its predecessor means the counter reset, and the new
    reading itself is the interval's increase (the standard
    reset-recovery rule; partial pre-reset growth is unknowable and
    credited as 0).

    Output, one row per consecutive sample pair: (key..., ts_us,
    next_ts_us, delta_units BIGINT, secs DOUBLE, rate_per_sec DOUBLE).
    ``secs`` and the rate denominator derive from the MICROSECOND
    timestamps (r6 ADVICE: the old whole-second ``unix_timestamp``
    denominator reported rate 0.0 for two distinct samples inside one
    second and quantized sub-second intervals straddling a boundary);
    the only zero-duration pairs left are identical-microsecond
    timestamps, which report rate 0.0 rather than an infinity that
    would poison downstream sums — the delta is still carried. Sample
    order is (t_us, u) — pure event-time order, with the units as the
    deterministic tiebreak for identical microseconds, so the output
    is bit-identical across runs, not just content-identical. ``secs``
    is one exact int→double cast and one correctly-rounded division by
    1e6; the rate divides through that same value (three IEEE ops
    total, mirrored by the oracle)."""
    keys = _keys(key)
    vcol = F.col(value) if isinstance(value, str) else value
    units = exactmath.units(vcol, scale)
    pts = df.filter(vcol.isNotNull()).select(
        *keys,
        F.unix_micros(F.col(ts_col)).alias("t_us"),
        units.alias("u"),
    )
    w = Window.partitionBy(*keys).orderBy("t_us", "u")
    paired = pts.select(
        *keys,
        "t_us",
        "u",
        F.lead("t_us").over(w).alias("t2_us"),
        F.lead("u").over(w).alias("u2"),
    ).filter(F.col("t2_us").isNotNull())
    delta = F.when(
        F.col("u2") >= F.col("u"), F.col("u2") - F.col("u")
    ).otherwise(F.col("u2"))  # reset: the new reading is the increase
    dus = F.col("t2_us") - F.col("t_us")
    secs = dus.cast("double") / F.lit(1e6)
    rate = F.when(
        dus > 0, delta.cast("double") / secs / F.lit(float(10**scale))
    ).otherwise(F.lit(0.0))
    return paired.select(
        *keys,
        F.col("t_us").alias("ts_us"),
        F.col("t2_us").alias("next_ts_us"),
        delta.alias("delta_units"),
        secs.alias("secs"),
        rate.alias("rate_per_sec"),
    )


def counter_rate_oracle(
    table: str = "events",
    keys: Sequence[str] = ("user_id",),
    ts_col: str = "ts",
    value_expr: str = "value",
    scale: int = 2,
) -> str:
    """DuckDB twin of :func:`counter_rate` (same reset rule, same
    integer units, same microsecond denominator, same zero-duration
    guard, same three-IEEE-op division sequence)."""
    ks = ", ".join(keys)
    units = exactmath.oracle_units(value_expr, scale)
    div = float(10**scale)
    return f"""
        WITH pts AS (
            SELECT {ks},
                   epoch_us({ts_col}) AS t_us,
                   {units} AS u
            FROM {table}
            WHERE ({value_expr}) IS NOT NULL
        ),
        paired AS (
            SELECT {ks}, t_us, u,
                   LEAD(t_us) OVER w AS t2_us,
                   LEAD(u) OVER w AS u2
            FROM pts
            WINDOW w AS (PARTITION BY {ks} ORDER BY t_us, u)
        )
        SELECT {ks},
               t_us AS ts_us,
               t2_us AS next_ts_us,
               CASE WHEN u2 >= u THEN u2 - u ELSE u2 END AS delta_units,
               CAST(t2_us - t_us AS DOUBLE) / 1000000.0 AS secs,
               CASE WHEN t2_us - t_us > 0
                    THEN CAST(CASE WHEN u2 >= u THEN u2 - u ELSE u2 END
                              AS DOUBLE)
                         / (CAST(t2_us - t_us AS DOUBLE) / 1000000.0)
                         / {div}
                    ELSE 0.0
               END AS rate_per_sec
        FROM paired
        WHERE t2_us IS NOT NULL
    """


def rolling_stats(
    events: DataFrame,
    window_seconds: int = 3600,
    key: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    scale: int = 2,
) -> DataFrame:
    """(key..., t_us, roll_count, roll_sum, roll_avg, roll_min,
    roll_max): per event, the trailing-``window_seconds`` aggregate of
    the key's own samples — the TimescaleDB-style "rolling window over
    irregular samples" serving read (every point annotated with its
    last-hour context; the hourly rollup can't answer this because its
    buckets are aligned, not trailing).

    Exactness: the RANGE frame is value-based on integer MICROSECONDS
    (ties share one frame — no order ambiguity inside the window), and
    every accumulation runs over exact integer units
    (``exactmath.units``), so intra-frame addition order cannot
    perturb the result; each output stat is ONE correctly-rounded
    division back to the measure's scale. Overflow envelope: BIGINT
    holds |value| * 10^scale summed over a frame — at scale 2 that is
    ~9.2e16 value-mass per (key, window), far above any physical
    sensor window.

    Plan: ONE scan, one shuffle into the per-key sort, a single
    range-frame window computing all four stats in one pass — no
    self-join (the naive form is events JOIN events ON range overlap),
    no second scan. 100 TB: identical posture to time_weighted_avg —
    the exchange is the per-key clustering every serving read here
    shares; with key-bucketed/sorted layout (storage.py) it vanishes.
    """
    keys = _keys(key)
    us = F.unix_micros(F.col(ts_col))
    u = exactmath.units(F.col(value_col), scale)
    w_us = int(window_seconds) * 1_000_000
    base = events.filter(F.col(value_col).isNotNull()).select(
        *keys, us.alias("t_us"), u.alias("u")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("t_us")
        .rangeBetween(-w_us, 0)
    )
    denom = 10**scale
    cnt = F.count(F.lit(1)).over(w)
    s = F.sum("u").over(w)
    return base.select(
        *keys,
        "t_us",
        cnt.alias("roll_count"),
        (s.cast("double") / denom).alias("roll_sum"),
        (s.cast("double") / (cnt * denom)).alias("roll_avg"),
        (F.min("u").over(w).cast("double") / denom).alias("roll_min"),
        (F.max("u").over(w).cast("double") / denom).alias("roll_max"),
    )


def rolling_stats_oracle(
    window_seconds: int = 3600,
    table: str = "events",
    key: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    scale: int = 2,
) -> str:
    """DuckDB twin of :func:`rolling_stats`: same integer-us RANGE
    frame, same integer-unit accumulation, same single divisions
    (DuckDB's HUGEINT window sum is cast back to BIGINT so the
    arithmetic matches Spark's)."""
    keys = _keys(key)
    klist = ", ".join(keys)
    u = exactmath.oracle_units(value_col, scale)
    w_us = int(window_seconds) * 1_000_000
    denom = 10**scale
    frame = (
        f"OVER (PARTITION BY {klist} ORDER BY t_us "
        f"RANGE BETWEEN {w_us} PRECEDING AND CURRENT ROW)"
    )
    return f"""
        WITH base AS (
            SELECT {klist}, epoch_us({ts_col}) AS t_us, {u} AS u
            FROM {table} WHERE {value_col} IS NOT NULL
        )
        SELECT {klist}, t_us,
               COUNT(*) {frame} AS roll_count,
               CAST(CAST(SUM(u) {frame} AS BIGINT) AS DOUBLE)
                   / {denom} AS roll_sum,
               CAST(CAST(SUM(u) {frame} AS BIGINT) AS DOUBLE)
                   / (COUNT(*) {frame} * {denom}) AS roll_avg,
               CAST(MIN(u) {frame} AS DOUBLE) / {denom} AS roll_min,
               CAST(MAX(u) {frame} AS DOUBLE) / {denom} AS roll_max
        FROM base
    """


def ohlc_bars(
    events: DataFrame,
    key: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Open/high/low/close bars per key per time bucket — the candle
    serving read every time-series dashboard asks of a hypertable
    (TimescaleDB ships it as ``candlestick_agg``).

    Exactness: every output is a SELECTION of an input double, never
    an accumulation — so the result is bitwise partition-invariant
    with no quantization needed (the one aggregate family where raw
    doubles are safe). Open/close need a TOTAL order to be
    deterministic under same-microsecond ties, so the ordering key is
    the exact integer ``t_us * 10^19 + id`` composed in DECIMAL(38,0)
    (both factors int64; the sum < 10^38; requires ``id < 10^19`` —
    holds for any sequence id), mirrored digit-for-digit by the
    oracle's HUGEINT. Bucket alignment is the integer-exact pmod floor
    (the gapfill/cohorts rule, correct pre-1970).

    Plan: one scan, one map-side-combined hash aggregation on
    (key, bucket) — min_by/max_by carry (value, ordkey) pairs through
    partial aggregation, so no window, no sort, no self-join.

    NULL measures are dropped (a NULL sample is no sample); NULL ids
    would break the total order and are rejected by filter too.
    """
    keys = _keys(key)
    p = int(bucket_seconds) * 1_000_000
    # 10^19 exceeds int64, so the scale literal must be born DECIMAL
    ordk = (
        F.unix_micros(F.col(ts_col)).cast("decimal(38,0)")
        * F.expr("cast(10000000000000000000 as decimal(38,0))")
        + F.col(id_col).cast("decimal(38,0)")
    )
    base = events.filter(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        *keys,
        F.expr(
            f"(unix_micros({ts_col}) - pmod(unix_micros({ts_col}), {p}))"
            f" div {p}"
        ).alias("_bi"),
        F.col(value_col).alias("_v"),
        ordk.alias("_ok"),
    )
    return (
        base.groupBy(*keys, "_bi")
        .agg(
            F.min_by("_v", "_ok").alias("open"),
            F.max("_v").alias("high"),
            F.min("_v").alias("low"),
            F.max_by("_v", "_ok").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            *keys,
            (F.col("_bi") * F.lit(bucket_seconds)).alias("bucket_s"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def ohlc_bars_oracle(
    table: str = "events",
    key: str | Sequence[str] = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket_seconds: int = 3600,
) -> str:
    """DuckDB twin of :func:`ohlc_bars`: identical pmod floor, the
    same composed HUGEINT ordering key under arg_min/arg_max."""
    keys = _keys(key)
    klist = ", ".join(keys)
    p = int(bucket_seconds) * 1_000_000
    return f"""
        WITH base AS (
            SELECT {klist},
                   (epoch_us({ts_col})
                    - ((epoch_us({ts_col}) % {p}) + {p}) % {p}) // {p}
                       AS bi,
                   {value_col} AS v,
                   CAST(epoch_us({ts_col}) AS HUGEINT)
                       * 10000000000000000000 + {id_col} AS ok
            FROM {table}
            WHERE {value_col} IS NOT NULL AND {id_col} IS NOT NULL
        )
        SELECT {klist}, bi * {bucket_seconds} AS bucket_s,
               arg_min(v, ok) AS open,
               MAX(v) AS high,
               MIN(v) AS low,
               arg_max(v, ok) AS close,
               COUNT(*) AS n_events
        FROM base GROUP BY {klist}, bi
    """
