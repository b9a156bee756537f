"""Evidence for the r13 runtime Bloom-filter posture (guide §3.2).

At fixture scale every TPC join is a broadcast join, and Spark's
InjectRuntimeFilter only fires for shuffle joins with a large
application-side scan — so the registered queries' local plans cannot
(and should not) show the filter. This tool is the scale-mode stand-in:
it disables auto-broadcast (at 100 TB these sides exceed the 8 GB
broadcast cap, so the planner lands on shuffle joins by itself) and
zeroes applicationSideScanSizeThreshold (the 11 MB fixture lineitem
stands in for the ~76 TB one), keeping the engine's own bloom confs
from session.py. It then, per query:

  1. captures the physical plan with the bloom rule ON and OFF into
     plans/r13/<name>_scalemode_bloom_{on,off}.txt,
  2. asserts might_contain + bloom_filter_agg appear ON (for the
     queries where a selective creation side exists) and that the ON
     plan adds no Exchange over the OFF plan,
  3. collects both results and asserts they are identical (false
     positives cost shuffle bytes, never rows),
  4. asserts every injected filter gets at least 8 bits per expected
     item (its numBits, capped at maxNumBits, over expectedNumItems):
     fewer saturate the filter at the 100 M items it is sized for.

Queries:
  - shipping_priority: creation side = date-filtered orders joined to
    BUILDING customers -> filter on l_orderkey.     EXPECT injected.
  - small_quantity_revenue: creation side = p_brand-filtered part ->
    filter on l_partkey.                            EXPECT injected.
  - revenue_by_nation / order_fulfillment: no selective predicate on
    any side (every row joins), so a Bloom filter would pass
    everything — correctly NOT injected.            EXPECT absent.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_iot_pipeline_spark.catalog import load_table  # noqa: E402
from cassandra_iot_pipeline_spark.operators.joins import (  # noqa: E402
    order_fulfillment,
    revenue_by_nation,
    shipping_priority,
)
from cassandra_iot_pipeline_spark.operators.subqueries import (  # noqa: E402
    small_quantity_revenue,
)
from cassandra_iot_pipeline_spark.plans import formatted_plan  # noqa: E402
from cassandra_iot_pipeline_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MIN_BITS_PER_ITEM = 8
#: bloom_filter_agg(xxhash64(key, seed), expectedNumItems, numBits, ...)
_BLOOM_AGG = re.compile(r"bloom_filter_agg\(xxhash64\([^)]*\), (\d+), (\d+)")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"
)


def main() -> None:
    spark = build_session(
        "r13-bloom-scale-demo",
        extra_conf={
            # 100 TB stand-ins; engine bloom confs come from session.py
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
        },
    )
    os.makedirs(OUT, exist_ok=True)
    t = {
        n: load_table(spark, SF_DIR, n)
        for n in ("customer", "orders", "lineitem", "nation", "part")
    }
    cases = {
        "shipping_priority": (
            lambda: shipping_priority(t["customer"], t["orders"], t["lineitem"]),
            True,
        ),
        "small_quantity_revenue": (
            lambda: small_quantity_revenue(t["lineitem"], t["part"]),
            True,
        ),
        "revenue_by_nation": (
            lambda: revenue_by_nation(
                t["orders"], t["lineitem"], t["customer"], t["nation"]
            ),
            False,
        ),
        "order_fulfillment": (
            lambda: order_fulfillment(t["orders"], t["lineitem"]),
            False,
        ),
    }
    failures = []
    for name, (build, expect_injected) in cases.items():
        plans, rows = {}, {}
        for mode in ("on", "off"):
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.enabled",
                "true" if mode == "on" else "false",
            )
            df = build()
            plan = formatted_plan(df)
            plans[mode] = plan
            rows[mode] = sorted(map(tuple, df.collect()))
            with open(
                os.path.join(OUT, f"{name}_scalemode_bloom_{mode}.txt"), "w"
            ) as fh:
                fh.write(plan)
        injected = "might_contain" in plans["on"]
        agg = "bloom_filter_agg" in plans["on"]
        same_rows = rows["on"] == rows["off"]
        max_bits = int(
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
        )
        bits_per_item = min(
            (min(int(bits), max_bits) / int(items)
             for items, bits in _BLOOM_AGG.findall(plans["on"])),
            default=None,
        )

        # the injected filter must not add a MAIN-PATH Exchange: the
        # creation side runs as a scalar subquery (its own small job,
        # listed under "===== Subqueries ====="), not a new shuffle on
        # the join path.
        def main_path_exchanges(plan: str) -> int:
            return plan.split("===== Subqueries =====")[0].count("Exchange")

        exch_delta = main_path_exchanges(plans["on"]) - main_path_exchanges(
            plans["off"]
        )
        ok = (
            injected == expect_injected
            and (agg == expect_injected)
            and same_rows
            and (exch_delta <= 0 if expect_injected else exch_delta == 0)
            and (bits_per_item is None or bits_per_item >= MIN_BITS_PER_ITEM)
        )
        sizing = "" if bits_per_item is None else f" bits_per_item={bits_per_item:.2f}"
        print(
            f"{'OK  ' if ok else 'FAIL'} {name}: injected={injected} "
            f"(expect {expect_injected}) bloom_agg={agg} rows_equal={same_rows} "
            f"exchange_delta={exch_delta}{sizing} n_rows={len(rows['on'])}"
        )
        if not ok:
            failures.append(name)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
