"""Statistical aggregates: exact quantiles, distinct-count sketches,
grouping sets (engine surface beyond the reference's avg/max/min/count).

Exactness: quantiles interpolate over *integer cents* at quarter
fractions (0.25/0.5/0.75), where linear interpolation is exact binary
arithmetic — bit-identical across engines. The HLL sketch
(approx_count_distinct) is engine-specific by nature; it ships as API
surface with accuracy pinned in tests, not in the oracle contract. The
KMV sketch is its portable companion: every step is exact, so DuckDB
reproduces its estimate bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANTILES = (0.25, 0.5, 0.75)


def value_quantiles(events: DataFrame) -> DataFrame:
    """Exact p25/p50/p75 of value per event_type, interpolated on
    integer cents (quarter-fraction interpolation is exact)."""
    cents = F.round(F.col("value") * 100).cast("long")
    pct = F.percentile(cents, F.lit(list(QUANTILES)))
    return (
        events.groupBy("event_type")
        .agg(pct.alias("q"))
        .select(
            "event_type",
            (F.col("q").getItem(0) / F.lit(100.0)).alias("p25"),
            (F.col("q").getItem(1) / F.lit(100.0)).alias("p50"),
            (F.col("q").getItem(2) / F.lit(100.0)).alias("p75"),
        )
    )


def value_quantiles_oracle() -> str:
    return """
        SELECT event_type,
               (quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.25) / 100.0) AS p25,
               (quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.50) / 100.0) AS p50,
               (quantile_cont(CAST(ROUND(value * 100) AS BIGINT), 0.75) / 100.0) AS p75
        FROM events
        GROUP BY event_type
    """


def orders_cube(orders: DataFrame) -> DataFrame:
    """CUBE over (status, priority): all grouping-set combinations with
    exact cents totals — one pass, Catalyst Expand + hash aggregate."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("price_units"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
            (F.col("price_units") / F.lit(100.0)).alias("total_price"),
        )
    )


def orders_cube_oracle() -> str:
    return """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               (SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0) AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """


def orders_rollup_hierarchy(orders: DataFrame) -> DataFrame:
    """ROLLUP over (status, priority): hierarchical subtotals (status
    totals + grand total, without priority-only rows) — the other
    grouping-sets shape, same single-pass Expand plan."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("price_units"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
            (F.col("price_units") / F.lit(100.0)).alias("total_price"),
        )
    )


def orders_rollup_hierarchy_oracle() -> str:
    return """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               (SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """


def approx_user_count(events: DataFrame, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ distinct-user estimate next to the exact count —
    the scale-path sketch (exact count_distinct shuffles every key;
    the sketch is fixed-size per partition). Engine-specific estimate:
    accuracy pinned by tests, not the oracle."""
    return events.agg(
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
    )


KMV_K = 256  # relative error ~ 1/sqrt(k-2) ≈ 6% — matches the HLL rsd tier


def kmv_user_count(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Approximate distinct users via a KMV (k-minimum-values) sketch —
    the *cross-engine-reproducible* companion to ``approx_user_count``'s
    HLL: unlike HLL (whose estimate is engine-specific), every step here
    is exact and portable, so DuckDB reproduces the estimate bitwise and
    the driver can hash-check an approximate query.

    Estimator (Bar-Yossef et al.): hash every user to a uniform value in
    [0, 1), keep the k smallest *distinct* hashes; if fewer than k exist
    the sketch holds the whole universe and the estimate is the exact
    count, else estimate = (k-1) / h_(k).

    Bitwise portability, step by step:
    - hash = sha256 of the decimal user_id string — identical lowercase
      hex in Spark (``sha2(·, 256)``) and DuckDB (``sha256``);
    - ordering: fixed-width lowercase hex compares lexicographically
      exactly as it does numerically, so "k smallest strings" needs no
      numeric conversion;
    - h_(k) as a number: the first 13 hex digits are 52 bits — a bigint
      both engines extract exactly (Spark ``conv(·,16,10)``; DuckDB an
      integer shift-sum over digits), and 52 bits fit a double mantissa,
      so ``val / 2^52`` is exact and the final ``(k-1)/h_(k)`` is one
      correctly-rounded IEEE division in both engines.

    Scale: the distinct pre-aggregation combines map-side, so the
    shuffle carries one row per distinct user per partition — the same
    cost profile as exact count-distinct. At extreme cardinality, bound
    it by pre-filtering ``h < prefix`` for a threshold chosen from a
    cardinality floor (keeps ≥ k hashes with margin): the k minima are
    unaffected and the shuffle drops to ~k·safety rows. HLL remains the
    one-pass fixed-memory tier when cross-engine reproducibility isn't
    required.
    """
    h = F.sha2(F.col("user_id").cast("string"), 256)
    # drop NULL hashes (NULL user_id) before the k-min: Spark sorts
    # NULLS FIRST, so a NULL would occupy a kmin slot invisible to
    # MAX(h) — n would say k while hk is the (k-1)-th hash, biasing the
    # estimate — and DuckDB sorts NULLS LAST, diverging from the oracle
    kmin = (
        events.select(h.alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    aggd = kmin.agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("hk"))
    val = F.conv(F.substring(F.col("hk"), 1, 13), 16, 10).cast("long")
    frac = val.cast("double") / F.lit(float(1 << 52))
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) / frac
    )
    exact = events.agg(F.count_distinct(F.col("user_id")).alias("exact_users"))
    return exact.crossJoin(aggd.select(est.alias("kmv_users")))


def kmv_user_count_oracle(k: int = KMV_K) -> str:
    return f"""
        WITH hashes AS (
            SELECT DISTINCT sha256(CAST(user_id AS VARCHAR)) AS h FROM events
            WHERE user_id IS NOT NULL
        ),
        kmin AS (SELECT h FROM hashes ORDER BY h LIMIT {k}),
        aggd AS (SELECT COUNT(*) AS n, MAX(h) AS hk FROM kmin),
        v AS (
            SELECT n,
                   list_sum(list_transform(range(1, 14),
                       i -> CAST(strpos('0123456789abcdef',
                                        substr(hk, CAST(i AS INT), 1)) - 1
                            AS BIGINT)
                            * (CAST(1 AS BIGINT) << CAST(4 * (13 - i) AS INT))
                   )) AS val
            FROM aggd
        )
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users,
               CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                    ELSE {float(k - 1)!r}
                         / (CAST(val AS DOUBLE) / {float(1 << 52)!r})
               END AS kmv_users
        FROM v
    """
