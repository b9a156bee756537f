"""Hypertable serving primitive over raw event points — the
irregular-sample sibling of the bucketed gap-fill (operators/
gapfill.py): the time-weighted average.

Why it: the reference's consumers read hourly AVG/MAX/MIN rollups
(iot-cassandra-pipeline/src/spark_consumer.py:169-186), which silently
assume samples arrive uniformly — a device reporting 59 minutes of
20.0 and 1 minute of 80.0 averages to 50.0 under COUNT weighting but
21.0 under time weighting. TimescaleDB ships this as
`time_weight('LOCF', ...)`; this module re-expresses it as a
pure-Catalyst window plan with the repo's exactness discipline.

Plan shape: ONE raw scan, one shuffle into the per-key window sort,
lead() pairing, then a partial-aggregable groupBy — the same
lead()-anchored pattern as the gap-fill, no joins, no second scan. It
integrates at the MICROSECOND grain (r6/r7 ADVICE — whole seconds
dropped sub-second weights entirely); the integral numerator is an
exact integer (DECIMAL(38,0) — the units x us products outgrow BIGINT
for hot keys), so partial aggregation order cannot perturb the
result; the final divisions per key are correctly-rounded IEEE ops
(deterministic, the exactmath.py rule).

NULL measures are filtered before pairing (the gap-fill's r5 ADVICE
posture): a NULL sample does not anchor an interval.
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
    verdict #4): two samples inside one second weight by their true
    sub-second durations where the old whole-second form gave the
    earlier one zero weight.

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
