"""LTTB (largest-triangle-three-buckets) downsampling — the standard
visual-fidelity decimation for dashboard serving of long sensor
series (Steinarsson 2013, public thesis; the operator TimescaleDB
ships as ``lttb()``).

Reference tie-in: the reference's serving reads return raw
latest-N-per-device slices (init.cql:19-31); a dashboard plotting a
month of one device's readings wants ~500 visually-representative
points, not 2.6 M — that is exactly LTTB.

Semantics: per key, order the series by (ts, value); always keep the
first and last points; split the interior into ``n_out - 2`` equal-
count buckets; walk the buckets left to right keeping, per bucket,
the point with the LARGEST triangle area formed with the previously
kept point and the centroid of the NEXT bucket (the final point
stands in for the bucket after the last). Ties keep the earliest
point. Series with <= n_out points pass through unchanged.

Why not pure Catalyst: the kept point of bucket i depends on the kept
point of bucket i-1 — a sequential dependence along each series, the
applyInPandas case by this repo's own rule (operators are built-in
DataFrame ops unless the semantics genuinely can't be expressed; the
sibling precedent is the stateful sessionizer, streaming/stateful.py).
Keys are independent, so the parallelism story is ONE exchange by key
and a per-series numpy loop over n_out buckets (each bucket's area
computation fully vectorized).

100 TB: the exchange carries only (key, ts, value); each series must
fit one task, the same envelope as every per-series operator here
(sessionization, stateful rates). For series beyond task memory,
pre-bucket with gapfill/hourly rollups first — LTTB composes (it is
a decimation, not an aggregate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lttb_indices(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Indices kept by LTTB over an (already sorted) series. Pure
    numpy; the area comparisons and bucket means are the reference
    fold — tests pin this function against a from-scratch Python
    twin."""
    n = len(x)
    if n_out < 3:
        raise ValueError("lttb needs n_out >= 3 (first, last, one bucket)")
    if n <= n_out:
        return np.arange(n)
    kept = np.empty(n_out, dtype=np.int64)
    kept[0] = 0
    kept[-1] = n - 1
    # interior bucket b covers [lo(b), lo(b+1)) with exact integer
    # boundaries over the n-2 interior points
    nb = n_out - 2

    def lo(b: int) -> int:
        return (b * (n - 2)) // nb + 1

    prev = 0
    for b in range(nb):
        i0, i1 = lo(b), lo(b + 1)
        if b + 1 < nb:
            j0, j1 = lo(b + 1), lo(b + 2)
            nx = float(np.sum(x[j0:j1], dtype=np.float64)) / (j1 - j0)
            ny = float(np.sum(y[j0:j1])) / (j1 - j0)
        else:
            nx, ny = float(x[n - 1]), float(y[n - 1])
        px, py = float(x[prev]), float(y[prev])
        # twice the triangle area, vectorized over the bucket
        area = np.abs(
            (px - nx) * (y[i0:i1] - py) - (px - x[i0:i1]) * (ny - py)
        )
        prev = i0 + int(np.argmax(area))  # first max wins ties
        kept[b + 1] = prev
    return kept


def lttb(
    df: DataFrame,
    n_out: int,
    key: str = "device_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-key LTTB decimation to at most ``n_out`` points. Output
    rows are a SUBSET of input rows (same schema: key, ts, value) —
    LTTB selects, never interpolates."""
    if n_out < 3:
        raise ValueError("lttb needs n_out >= 3")
    out_schema = f"{key} {df.schema[key].dataType.simpleString()}, " \
                 f"{ts_col} {df.schema[ts_col].dataType.simpleString()}, " \
                 f"{value_col} {df.schema[value_col].dataType.simpleString()}"

    def _one_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [ts_col, value_col], kind="mergesort"
        ).reset_index(drop=True)
        x = pdf[ts_col].astype("int64").to_numpy()  # epoch micros
        y = pdf[value_col].to_numpy(dtype=np.float64)
        idx = _lttb_indices(x, y, n_out)
        return pdf.iloc[idx]

    return (
        df.select(key, ts_col, value_col)
        .groupBy(key)
        .applyInPandas(_one_series, schema=out_schema)
    )
