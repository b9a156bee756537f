"""Batch operator library — the reference-parity query surface.

Each module maps a section of SURVEY.md §2 to idiomatic, declarative
DataFrame transformations (Catalyst-optimizable, no Python in the row
path):

    exactmath  -- cross-engine-exact aggregation arithmetic
    agg        -- hourly rollup + grouped aggregations (§2.E)
    serving    -- point/range/latest-N serving reads (§2.C/F/G)
    joins      -- enrichment + relational join surface (§2.D)
    upsert     -- PK last-write-wins semantics (§2.K K3)
    setops     -- union / intersect / except surface (§2.H)
    gapfill    -- hypertable gap-fill (dense grid, LOCF, interpolation)
    timeseries -- time-weighted average over irregular samples
                  (exact integer arithmetic)
    scd2       -- SCD type-2 dimension history: versioned snapshot
    funnel     -- ordered k-step funnel (greedy-earliest chain,
                  horizon-capped, conversion + step-through rates)
    asof       -- as-of (point-in-time) join
    rangejoin  -- range (interval) join by window-length bucketing
    windows    -- running aggregates, lag/lead, sessionization (§2.F)
    stats      -- exact quantiles, distinct-count sketches, grouping sets
    subqueries -- scalar/correlated subqueries, pattern-match filters
    profiles   -- device behavior profiles + series similarity search
"""
