"""Correctness checks: compare what the engine returned with the answers
computed by ``gen``.  Each check returns a list of problems; an empty
list means the output is correct."""

from __future__ import annotations

import numpy as np
import pandas as pd

HOURLY_KEY = ["device_id", "hour_bucket"]


def compare_rows(actual: list[tuple], expected: list[tuple], ordered: bool) -> list[str]:
    """Exact row comparison (floats compared bitwise).  ``ordered``
    checks the row order too, for reads that promise one."""
    if not ordered:
        actual, expected = sorted(actual), sorted(expected)
    if len(actual) != len(expected):
        return [f"{len(actual)} rows, expected {len(expected)}"]
    for i, (a, e) in enumerate(zip(actual, expected)):
        if a != e:
            return [f"row {i}: {a!r} != expected {e!r}"]
    return []


def hourly_checksum(frame: pd.DataFrame) -> int:
    """Order-insensitive checksum of (device_id, hour_bucket,
    event_count, sum of value cents) over an hourly table."""
    cols = frame[["device_id", "hour_bucket", "event_count", "sum_cents"]]
    return int(pd.util.hash_pandas_object(cols, index=False).to_numpy().sum(dtype=np.uint64))


def with_sum_cents(hourly: pd.DataFrame) -> pd.DataFrame:
    """Recover the exact integer-cents sum from an engine hourly row
    (avg_value = cents / 100 / count)."""
    cents = np.rint(
        hourly["avg_value"].to_numpy() * hourly["event_count"].to_numpy() * 100
    ).astype(np.int64)
    return hourly.assign(sum_cents=cents)


def check_hourly(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """The engine's hourly_aggregates table against ``gen.expected_hourly``:
    checksum of keys, counts and cents, then every value bitwise."""
    actual = with_sum_cents(actual).sort_values(HOURLY_KEY, kind="mergesort")
    actual = actual.reset_index(drop=True)
    expected = expected.sort_values(HOURLY_KEY, kind="mergesort").reset_index(drop=True)
    if len(actual) != len(expected):
        return [f"hourly: {len(actual)} rows, expected {len(expected)}"]
    problems = []
    if hourly_checksum(actual) != hourly_checksum(expected):
        problems.append("hourly: checksum of (device, hour, count, cents) differs")
    for col in ("device_id", "hour_bucket", "event_count", "sum_cents",
                "avg_value", "max_value", "min_value"):
        a, e = actual[col].to_numpy(), expected[col].to_numpy()
        bad = np.flatnonzero(a != e)
        if len(bad):
            i = int(bad[0])
            problems.append(f"hourly.{col}: {len(bad)} mismatches, first {a[i]!r} != {e[i]!r}")
    return problems


def check_counts(actual: dict[str, int], expected: dict[str, int]) -> list[str]:
    return [
        f"table_counts[{name}] = {actual.get(name)}, expected {want}"
        for name, want in expected.items()
        if actual.get(name) != want
    ]
