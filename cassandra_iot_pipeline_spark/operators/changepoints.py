"""CUSUM change-point detection over metric time series — the
analysis layer above the engine's monitor stores (quality audit,
cardinality estimates): given a (group, order, metric) series, find
the points where the level SHIFTED, not just wobbled.

Why CUSUM (Page 1954): a threshold-on-value alert fires on every
noisy excursion; CUSUM accumulates evidence — the one-sided statistic
``S+ = max(0, S+ + (x - mu0 - k))`` only grows while the process sits
persistently above the baseline, so a small sustained shift alarms
while a single spike of the same magnitude does not (the allowance
``k`` absorbs it). Two-sided here: S+ for upward shifts, S- downward.

Baseline contract: ``mu0`` = the mean of each group's first
``baseline_n`` observations (the monitors' first-epoch-baseline
convention, widened to n for noise). After every alarm the statistic
resets and the baseline RE-ANCHORS to the next ``baseline_n``
observations — so a series that shifts and then stays at the new
level alarms ONCE, not forever.

Spark shape: a per-group sequential fold — not expressible as a
window (the reset makes it non-associative), and each group's series
is BOUNDED (one row per epoch), so this is the repo's documented
sequential-by-design class (LTTB's applyInPandas precedent): one
exchange on the group key, a short Python loop per group, groups in
parallel. A from-scratch scalar reference is the parity gate.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cusum_reference(
    xs: list[float], k: float, h: float, baseline_n: int
) -> list[tuple[int, str]]:
    """From-scratch scalar CUSUM (the test gate lives here so library
    and tests share one definition the tests re-implement): returns
    [(index, 'up'|'down')] alarm points over one series."""
    alarms: list[tuple[int, str]] = []
    i = 0
    n = len(xs)
    while i < n:
        base = xs[i : i + baseline_n]
        if len(base) < baseline_n:
            break
        mu0 = sum(base) / len(base)
        sp = sn = 0.0
        j = i + baseline_n
        fired = False
        while j < n:
            x = xs[j]
            sp = max(0.0, sp + (x - mu0 - k))
            sn = max(0.0, sn + (mu0 - x - k))
            if sp > h or sn > h:
                alarms.append((j, "up" if sp > h else "down"))
                i = j  # re-anchor: next baseline starts at the alarm
                fired = True
                break
            j += 1
        if not fired:
            break
    return alarms


def cusum_changepoints(
    series: DataFrame,
    group_cols: Sequence[str],
    metric_col: str,
    order_col: str = "epoch",
    k: float = 0.0,
    h: float = 1.0,
    baseline_n: int = 3,
) -> DataFrame:
    """(group..., order, direction): the change points of each group's
    series under two-sided CUSUM with allowance ``k``, threshold ``h``
    and a ``baseline_n``-observation re-anchoring baseline. See the
    module docstring for semantics and the plan-shape argument."""
    groups = list(group_cols)
    out_schema = ", ".join(
        f"{c} {t}"
        for c, t in zip(
            groups + [order_col, "direction"],
            [
                dict(series.dtypes)[g] for g in groups
            ] + [dict(series.dtypes)[order_col], "string"],
        )
    )

    def detect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        xs = pdf[metric_col].astype(float).tolist()
        alarms = cusum_reference(xs, k, h, baseline_n)
        rows = []
        for idx, direction in alarms:
            row = {g: pdf.iloc[0][g] for g in groups}
            row[order_col] = pdf.iloc[idx][order_col]
            row["direction"] = direction
            rows.append(row)
        return pd.DataFrame(
            rows, columns=groups + [order_col, "direction"]
        )

    return (
        series.select(*groups, order_col, metric_col)
        .groupBy(*groups)
        .applyInPandas(detect, out_schema)
    )
