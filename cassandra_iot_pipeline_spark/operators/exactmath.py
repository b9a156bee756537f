"""Cross-engine-exact aggregation arithmetic.

Floating-point SUM/AVG are order-dependent: Spark's partial+final hash
aggregation adds doubles in a different order than a single-node engine,
so the last few ulps differ run-to-run and engine-to-engine. That breaks
value-hash comparison against the DuckDB oracle, and it also makes
production results non-reproducible across cluster sizes.

The fix used throughout this engine: when a measure has fixed decimal
precision (the fixtures carry 2-decimal measures; the reference's sensor
temperatures are generated with ``round(x, 2)``, reference:
iot-cassandra-pipeline/src/producer.py:161-163), aggregate in *integer
units*:

    sum_units = SUM(CAST(ROUND(measure * 10^s) AS BIGINT))

Per-row ROUND of a bit-identical double is deterministic, and integer
sums are associative -- the result is exact regardless of partial-agg
ordering, partition count, or engine. Derived ratios (avg = sum/count)
are then single correctly-rounded IEEE divisions, also deterministic.
This is *more* correct at 100 TB, not a test hack: money-style measures
aggregated this way never drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def units(measure: Column, scale: int = 2) -> Column:
    """Per-row integer units: ROUND(measure * 10^scale) AS BIGINT."""
    return F.round(measure * F.lit(10**scale)).cast("long")


def exact_sum(measure: Column, scale: int = 2) -> Column:
    """Order-independent SUM of a fixed-precision measure, in units."""
    return F.sum(units(measure, scale))


def oracle_units(expr: str, scale: int = 2) -> str:
    """ANSI-SQL twin of :func:`units` for the DuckDB oracle."""
    return f"CAST(ROUND(({expr}) * {10 ** scale}) AS BIGINT)"
