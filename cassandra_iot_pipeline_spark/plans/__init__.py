"""Physical-plan introspection helpers.

Used by tests to assert the plans are the ones we want at scale:
filters pushed to the parquet scan, dimension joins broadcast, sorts
compiled to top-k. Grading "would this survive 100x data" starts with
reading the plan, so the asserts live next to the operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert a predicate reached the parquet scan (PushedFilters)."""
    plan = formatted_plan(df)
    if "PushedFilters" not in plan or fragment not in plan:
        raise AssertionError(
            f"expected pushed filter containing {fragment!r}; plan:\n{plan}"
        )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "BroadcastHashJoin" not in plan:
        raise AssertionError(f"expected BroadcastHashJoin; plan:\n{plan}")


def window_frames(df: DataFrame) -> list[str]:
    """Every ``specifiedwindowframe(...)`` spec in the optimized
    logical plan (analysis + optimization only — nothing executes)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    out = []
    key = "specifiedwindowframe("
    i = 0
    while True:
        j = plan.find(key, i)
        if j < 0:
            return out
        depth, k = 1, j + len(key)
        while depth and k < len(plan):
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j + len(key) : k - 1])
        i = k


def unbounded_following_frames(df: DataFrame) -> list[str]:
    """The O(rows^2) window-frame class (DESIGN.md rule, r10): a frame
    whose UPPER bound is unboundedfollowing while the lower bound
    moves (anything but unboundedpreceding) evaluates in WindowExec by
    re-scanning to the partition's end for EVERY row — measured 85.6 s
    vs 7.8 s for the reversed-sort running-fill rewrite of the same
    backward fill. A whole-partition frame (unboundedpreceding,
    unboundedfollowing) is NOT in this class: it computes once per
    partition. The lint (tests/test_plans.py) walks the PLANS.md
    corpus and fails on any offender; express a backward fill as a
    RUNNING fill over the REVERSED sort instead."""
    return [
        spec
        for spec in window_frames(df)
        if "unboundedfollowing" in spec and "unboundedpreceding" not in spec
    ]
