"""Deterministic sampling, splitting, and mixture operators.

Training-data pipelines need reproducible subsetting: the same corpus
must yield the same train/val split on every run, on any cluster, under
any partitioning — ``rand()``-based sampling gives none of that (its
output depends on partition layout and task retries). Everything here
derives randomness from ``xxhash64(key, seed)`` instead: a pure
function of the row's stable key, so membership is a property of the
*data*, not the execution.

All operators are single-scan Catalyst expressions or one ranking
window — no shuffle beyond what the semantics require, no Python.

100 TB posture: ``hash_split`` and ``deterministic_sample`` are
narrow (zero shuffle — they pipeline into the scan); ``per_group_cap``
is one shuffle on the group key (the ranking window), which is the
minimum any per-group quota needs; ``weighted_mixture`` is a union of
narrow per-source filters resolved at plan time.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: hash buckets for split/sample rate resolution: rates are quantized
#: to 1/2^20 (~1e-6), plenty for any practical split ratio.
_BUCKETS = 1 << 20


def _bucket(key: Column, seed: int) -> Column:
    """Uniform bucket in [0, _BUCKETS) from a stable row key.

    ``pmod`` (not ``%``): xxhash64 is signed and Spark's ``%`` keeps the
    sign, which would silently empty every split above bucket 0."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BUCKETS))


def hash_split(
    df: DataFrame,
    key: str | Column,
    weights: Mapping[str, float],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to exactly one named split, proportionally to
    ``weights`` (normalized), deterministically by ``key``.

    The splits partition the corpus: disjoint, exhaustive, stable under
    re-runs and repartitioning. Weight order follows the mapping's
    iteration order (insertion order), so the same weights dict always
    produces the same bucket boundaries.
    """
    if not weights:
        raise ValueError("hash_split: weights must be non-empty")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("hash_split: weights must sum to a positive value")
    key_col = F.col(key) if isinstance(key, str) else key
    bucket = _bucket(key_col, seed)
    # cumulative upper bounds, last one forced to _BUCKETS so rounding
    # can never leave a row unassigned
    names = list(weights)
    bounds: list[int] = []
    acc = 0.0
    for name in names:
        acc += float(weights[name]) / total
        bounds.append(min(_BUCKETS, round(acc * _BUCKETS)))
    bounds[-1] = _BUCKETS
    assign = F.lit(names[-1])
    for name, bound in zip(reversed(names[:-1]), reversed(bounds[:-1])):
        assign = F.when(bucket < F.lit(bound), F.lit(name)).otherwise(assign)
    return df.withColumn(split_col, assign)


def deterministic_sample(
    df: DataFrame,
    rate: float,
    key: str | Column,
    seed: int = 0,
) -> DataFrame:
    """Keep a ``rate`` fraction of rows, membership decided by
    ``xxhash64(key, seed)`` — reproducible and partition-invariant,
    unlike ``DataFrame.sample``. Narrow: pipelines into the scan, and
    the hash predicate is visible to Catalyst like any filter."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"deterministic_sample: rate {rate} outside [0, 1]")
    key_col = F.col(key) if isinstance(key, str) else key
    return df.filter(_bucket(key_col, seed) < F.lit(round(rate * _BUCKETS)))


def per_group_cap(
    df: DataFrame,
    group_cols: Sequence[str],
    cap: int,
    order_by: str | Column | None = None,
    key: str | Column | None = None,
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``cap`` rows per group (domain/source quotas — the
    standard defense against one crawl domain dominating a corpus).

    ``order_by`` picks *which* rows survive (e.g. a quality score,
    descending). Without it, pass ``key`` (a stable row id): rows are
    ranked by ``xxhash64(key, seed)`` — a reproducible uniform choice,
    not "whatever rows the partitioning happened to deliver first".
    One shuffle on the group key; the ranking window is the minimal
    plan for any per-group quota."""
    if cap < 1:
        raise ValueError(f"per_group_cap: cap {cap} must be >= 1")
    from pyspark.sql.window import Window

    if order_by is None:
        if key is None:
            raise ValueError(
                "per_group_cap: pass order_by (which rows survive) or key "
                "(stable row id for a deterministic uniform choice)"
            )
        key_col = F.col(key) if isinstance(key, str) else key
        # key itself breaks xxhash64 ties -> total deterministic order
        order = [_bucket(key_col, seed), key_col]
    elif isinstance(order_by, str):
        order = [F.col(order_by)]
    else:
        order = [order_by]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def weighted_mixture(
    df: DataFrame,
    source_col: str,
    rates: Mapping[str, float],
    key: str | Column,
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Down-sample each source to its own rate in one pass — the
    "mixture weights" step of corpus assembly (e.g. keep 100% of books,
    10% of web). Sources absent from ``rates`` get ``default_rate``.

    Plan: a single filter comparing the row's hash bucket against a
    per-source threshold resolved via a CASE expression — one narrow
    scan, no unions, no shuffles."""
    for name, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"weighted_mixture: rate {rate} for {name!r}")
    key_col = F.col(key) if isinstance(key, str) else key
    threshold: Column = F.lit(round(default_rate * _BUCKETS))
    for name, rate in rates.items():
        threshold = (
            F.when(F.col(source_col) == F.lit(name), F.lit(round(rate * _BUCKETS)))
            .otherwise(threshold)
        )
    return df.filter(_bucket(key_col, seed) < threshold)


def mixture_rates(
    df: DataFrame,
    source_col: str,
    target_shares: Mapping[str, float],
    weight_col: str | Column = None,
    budget: float | None = None,
) -> dict:
    """Solve for the per-source sampling rates that realize a target
    corpus composition — the planning step in front of
    :func:`weighted_mixture` (which executes the rates in one narrow
    pass).

    ``target_shares`` are the desired FRACTIONS of the assembled
    corpus (normalized; e.g. ``{"web": .5, "code": .3, "books": .2}``)
    measured in ``weight_col`` units (tokens/bytes; row count when
    None). ``budget`` is the assembled corpus's total size in those
    units; None means "as large as the targets allow without
    repeating data" — the max budget at which no source's rate
    exceeds 1.0.

    Sources can saturate: if a target share asks for more than a
    source has, its rate caps at 1.0 and the shortfall is REPORTED,
    not silently reshuffled into the other sources (changing the mix
    to hit a budget is a policy decision the caller owns; the paper's
    alternative — repeating data — is a training choice, not a
    sampling one). Returns::

        {"rates": {source: rate}, "budget": effective_budget,
         "available": {source: units}, "allocated": {source: units},
         "shortfall": {source: missing_units}}  # only saturated ones

    One aggregation over the frame (one row per source — the
    documented bounded-collect class), pure driver arithmetic after.
    Rates quantize to 1/2^20 inside weighted_mixture; at any real
    corpus size the quantization error is far below the hash
    sampling variance."""
    if not target_shares:
        raise ValueError("mixture_rates: target_shares must be non-empty")
    total_share = float(sum(target_shares.values()))
    if total_share <= 0:
        raise ValueError("mixture_rates: target_shares must sum > 0")
    if any(v < 0 for v in target_shares.values()):
        raise ValueError("mixture_rates: target_shares must be >= 0")
    shares = {k: float(v) / total_share for k, v in target_shares.items()}
    # zero-valued shares ask for NO data: rate 0.0, excluded from both
    # the zero-supply check and the budget min (r7 ADVICE: a zero
    # share used to ZeroDivisionError the budget=None path, and a
    # zero-share source with no rows wrongly tripped the zero-supply
    # guard even though it needs nothing)
    zero_sources = [s for s, v in shares.items() if v == 0.0]
    shares = {s: v for s, v in shares.items() if v > 0.0}
    w = (
        F.lit(1).cast("double")
        if weight_col is None
        else (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast("double")
    )
    rows = (
        df.filter(F.col(source_col).isin(*shares))
        .groupBy(source_col)
        .agg(F.sum(w).alias("avail"))
        .collect()
    )
    available = {r[source_col]: float(r["avail"]) for r in rows}
    missing = [s for s in shares if available.get(s, 0.0) <= 0]
    if missing:
        raise ValueError(
            f"mixture_rates: no rows/weight for sources {missing} — a "
            "zero-supply source cannot carry a positive target share"
        )
    if budget is None:
        # largest budget at which every rate <= 1: the binding source
        # is the one whose availability/share ratio is smallest
        budget = min(available[s] / shares[s] for s in shares)
    rates, allocated, shortfall = {}, {}, {}
    for s, share in shares.items():
        want = budget * share
        have = available[s]
        if want > have:
            rates[s] = 1.0
            allocated[s] = have
            shortfall[s] = want - have
        else:
            rates[s] = want / have
            allocated[s] = want
    for s in zero_sources:
        rates[s] = 0.0
        allocated[s] = 0.0
    return {
        "rates": rates,
        "budget": float(budget),
        "available": available,
        "allocated": allocated,
        "shortfall": shortfall,
    }


def temperature_shares(
    df: DataFrame,
    source_col: str,
    tau: float,
    weight_col: str | Column = None,
) -> dict:
    """Temperature-scaled target shares from the corpus's OBSERVED
    composition — the multilingual/multi-source LM sampling rule:
    ``q_i ∝ p_i^(1/tau)`` over the observed shares ``p_i``, then
    renormalized. ``tau = 1`` reproduces the observed mix; ``tau > 1``
    flattens it (up-weights rare sources — the standard counter to a
    web-dominated crawl drowning low-resource sources); ``tau < 1``
    sharpens it; ``tau → ∞`` approaches uniform over the sources
    present. Returns ``{"shares": {source: q}, "observed": {source:
    p}}`` — feed ``shares`` straight into :func:`mixture_rates` /
    :func:`weighted_mixture` to plan and execute the mix.

    One bounded aggregation (one row per source, the mixture_rates
    collect class); the exponentiation is driver arithmetic."""
    if tau <= 0:
        raise ValueError(f"temperature_shares: tau must be > 0, got {tau}")
    w = (
        F.lit(1).cast("double")
        if weight_col is None
        else (
            F.col(weight_col) if isinstance(weight_col, str) else weight_col
        ).cast("double")
    )
    rows = df.groupBy(source_col).agg(F.sum(w).alias("avail")).collect()
    totals = {r[source_col]: float(r["avail"]) for r in rows}
    total = sum(totals.values())
    if total <= 0:
        raise ValueError("temperature_shares: no weight in the frame")
    observed = {s: v / total for s, v in totals.items()}
    scaled = {s: p ** (1.0 / tau) for s, p in observed.items()}
    z = sum(scaled.values())
    return {
        "shares": {s: v / z for s, v in scaled.items()},
        "observed": observed,
    }


def score_thresholds(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    group_cols: Sequence[str] = (),
    quantize_decimals: int | None = None,
) -> DataFrame:
    """(group..., n_rows, k_target, threshold): per group (one global
    row when ``group_cols`` is empty), the score of the ceil(keep_frac
    x n)-th highest row — the cut line :func:`top_fraction_by_score`
    filters against (FineWeb-style "keep the top X% by quality").

    Exactness: the quantile is DISCRETE (an actual score value, no
    interpolation) and the rank ``k = ceil(n x keep_frac)`` is one
    double multiply + ceil on both engines — the oracle reproduces
    every step bitwise. NULL scores are excluded from both ``n`` and
    the ranking (a row with no score is never "top anything").

    100 TB shape (the value-collapse rule): scores collapse to one row
    per DISTINCT (group, score) through a partial-aggregable groupBy
    before any ordering — the running-count window then runs over
    distinct scores, not rows, so no single task ever sorts a group's
    raw rows. That bound is only real when the score DOMAIN is
    bounded (integer lengths, token counts): a continuous double
    score has ~one distinct value per row and the window degenerates
    to a single-task row sort. For those, set ``quantize_decimals``:
    scores are floored to that grid FOR THE THRESHOLD ONLY
    (``floor(s x 10^d) / 10^d`` — identical IEEE ops on both
    engines), bounding the window at the grid's cardinality; the
    floored threshold is <= the exact one, so the filter keeps AT
    LEAST k rows — the same one-sided tie-inflation the exact path
    already accepts, now up to one grid cell wide."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(
            f"keep_frac must be in (0, 1], got {keep_frac}"
        )
    groups = list(group_cols)
    pts = df.filter(F.col(score_col).isNotNull())
    if quantize_decimals is not None:
        grid = float(10**quantize_decimals)
        pts = pts.select(
            *groups,
            (F.floor(F.col(score_col) * F.lit(grid)) / F.lit(grid)).alias(
                score_col
            ),
        )
    counts = pts.groupBy(*groups, score_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    return thresholds_from_counts(counts, score_col, keep_frac, groups)


def thresholds_from_counts(
    counts: DataFrame,
    score_col: str,
    keep_frac: float,
    group_cols: Sequence[str] = (),
    count_col: str = "_c",
) -> DataFrame:
    """The cut-line computation over an already-collapsed
    (group..., score, count) frame — the stage :func:`score_thresholds`
    delegates to, exposed for callers that MAINTAIN the distribution
    (per-score counts are sum-mergeable across batches, so a whole
    corpus-lifetime distribution folds into one bounded frame and
    thresholds come from it without revisiting any document)."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    groups = list(group_cols)
    wg = Window.partitionBy(*groups)
    wd = wg.orderBy(F.col(score_col).desc())
    cum = counts.select(
        *groups,
        F.col(score_col),
        F.sum(count_col).over(wd).alias("_cum"),
        F.sum(count_col).over(wg).alias("n_rows"),
    )
    k = F.ceil(F.col("n_rows") * F.lit(float(keep_frac))).cast("long")
    return (
        cum.withColumn("k_target", k)
        .filter(F.col("_cum") >= F.col("k_target"))
        .groupBy(*groups)
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("k_target").alias("k_target"),
            F.max(score_col).alias("threshold"),
        )
    )


def top_fraction_by_score(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    group_cols: Sequence[str] = (),
    quantize_decimals: int | None = None,
) -> DataFrame:
    """Keep each group's top ``keep_frac`` of rows by score — all rows
    with score >= the :func:`score_thresholds` cut line. Boundary ties
    are ALL kept (the kept count can exceed ceil(frac x n) when the
    threshold value repeats): a deterministic, partition-invariant
    policy — breaking ties by hash would silently drop equal-quality
    documents on one run and keep them on the next. NULL scores are
    never kept.

    Plan: the threshold frame is one row per group, so the filter join
    broadcasts — the corpus side never shuffles; the only exchange is
    the value-collapse aggregation over distinct (group, score)."""
    groups = list(group_cols)
    thr = F.broadcast(
        score_thresholds(
            df, score_col, keep_frac, groups, quantize_decimals
        ).select(*groups, F.col("threshold").alias("_thr"))
    )
    if groups:
        joined = df.join(thr, groups, "inner")
    else:
        joined = df.join(thr)
    return joined.filter(F.col(score_col) >= F.col("_thr")).drop("_thr")


def score_thresholds_oracle(
    table: str,
    score_col: str,
    keep_frac: float,
    group_cols: Sequence[str] = (),
    quantize_decimals: int | None = None,
) -> str:
    """DuckDB twin of :func:`score_thresholds` — identical value
    collapse (incl. the optional floor-grid quantization), identical
    descending running count over distinct scores, identical
    ceil(n x frac) rank arithmetic."""
    groups = list(group_cols)
    gsel = (", ".join(groups) + ", ") if groups else ""
    gby = ("GROUP BY " + ", ".join(groups)) if groups else ""
    part = ("PARTITION BY " + ", ".join(groups)) if groups else ""
    if quantize_decimals is None:
        s_expr = score_col
    else:
        grid = float(10**quantize_decimals)
        s_expr = f"floor({score_col} * {grid}) / {grid}"
    return f"""
        WITH counts AS (
            SELECT {gsel}{s_expr} AS s, COUNT(*) AS c
            FROM {table}
            WHERE {score_col} IS NOT NULL
            GROUP BY {gsel}{s_expr}
        ),
        cum AS (
            SELECT {gsel}s,
                   SUM(c) OVER ({part} ORDER BY s DESC) AS cum,
                   SUM(c) OVER ({part}) AS n_rows
            FROM counts
        )
        SELECT {gsel}
               -- SUM() windows are HUGEINT in DuckDB; BIGINT keeps the
               -- dtype class aligned with Spark's LONG
               CAST(MAX(n_rows) AS BIGINT) AS n_rows,
               MAX(CAST(ceiling(n_rows * {float(keep_frac)}) AS BIGINT))
                   AS k_target,
               MAX(s) AS threshold
        FROM cum
        WHERE cum >= CAST(ceiling(n_rows * {float(keep_frac)}) AS BIGINT)
        {gby}
    """


#: 53-bit uniform grid: the largest power of two whose reciprocals are
#: all exactly representable in float64, so u = (h53 + 1) / 2^53 is an
#: EXACT binary rational — every engine computes the same double.
_U53 = 1 << 53


def _uniform53(key: Column, seed: int) -> Column:
    """Deterministic uniform in (0, 1]: 53 hash bits + 1, over 2^53.
    The +1 keeps u > 0 (a zero priority divisor) and 1.0 reachable —
    both endpoints exact."""
    h53 = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_U53))
    return (h53 + F.lit(1)).cast("double") / F.lit(float(_U53))


def priority_sample(
    df: DataFrame,
    key: str | Column,
    weight: str | Column,
    k: int,
    group: str | Sequence[str] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): a weight-proportional
    sample of ``k`` rows WITHOUT replacement — global, or per group —
    with unbiased subset-sum estimation weights.

    Per row: priority q = w / u with u a deterministic 53-bit hash
    uniform (exact binary rational, so q is ONE correctly-rounded IEEE
    division — bitwise reproducible across partitionings, retries, and
    engines; the from-scratch reference in tests reproduces selection,
    threshold, and estimators exactly). Keep the k largest priorities;
    tau = the (k+1)-th priority; each kept row estimates its stratum's
    weight mass as ``max(w, tau)`` — E[sum of est_w over the sample] =
    total weight (Duffield et al. 2007), which is what makes the
    sample usable for weighted-corpus accounting, not just selection.

    Plan: one scan; global form = TakeOrderedAndProject on (q DESC)
    over k+1 rows then a driver-free threshold window; grouped form =
    one shuffle on the group key into a ranking window — the minimum
    any per-group quota needs (the per_group_cap posture). Rows with
    NULL, zero, or negative weight never enter the sample.
    """
    if k < 1:
        raise ValueError(f"priority_sample: k {k} < 1")
    kcol = F.col(key) if isinstance(key, str) else key
    wcol = F.col(weight) if isinstance(weight, str) else weight
    groups = (
        [] if group is None
        else [group] if isinstance(group, str) else list(group)
    )
    base = df.filter(wcol.isNotNull() & (wcol > 0)).withColumn(
        "_q", wcol.cast("double") / _uniform53(kcol, seed)
    )
    if not groups:
        # distributed heap top-(k+1) (TakeOrderedAndProject) — a global
        # ranking window would funnel every row through one partition
        base = base.orderBy(F.desc("_q")).limit(k + 1)
    w = Window.partitionBy(*groups).orderBy(F.desc("_q"))
    wg = Window.partitionBy(*groups)
    ranked = base.withColumn("_rn", F.row_number().over(w))
    # tau = the (k+1)-th priority, broadcast back onto the kept rows by
    # a per-group max over the single rank-(k+1) row (NULL when the
    # group has <= k rows: the sample is exhaustive and est_w = w)
    tau = F.max(F.when(F.col("_rn") == k + 1, F.col("_q"))).over(wg)
    return (
        ranked.withColumn("_tau", tau)
        .filter(F.col("_rn") <= k)
        .withColumn(
            "est_w",
            F.greatest(
                wcol.cast("double"), F.coalesce(F.col("_tau"), F.lit(0.0))
            ),
        )
        .drop("_q", "_rn", "_tau")
    )
