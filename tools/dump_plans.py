"""Write PLANS.md: formatted physical plans of the headline queries with
the scale-relevant properties annotated. Run at sf0.1.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from cassandra_iot_pipeline_spark.plans import formatted_plan  # noqa: E402
from cassandra_iot_pipeline_spark.session import build_session  # noqa: E402

SHOWCASE = {
    "funnel": (
        "Ordered k-step funnel (driver-registered r9): the step-type IN "
        "predicate is in PushedFilters, so the ONE user-keyed Exchange "
        "carries only funnel-typed events; the greedy chain is a "
        "sort_array + aggregate() higher-order fold inside the "
        "projection (no per-row Python, no self-joins); everything "
        "above the fold is user- then k-bounded."
    ),
    "pricing_summary": (
        "All predicates in PushedFilters; 7-column ReadSchema out of 16; "
        "whole-stage codegen spans the scan->partial-agg pipeline."
    ),
    "enrich_customers": (
        "Both dimension joins are BroadcastHashJoin — the fact side never "
        "shuffles (the J1 enrichment plan)."
    ),
    "point_lookup": (
        "Equality predicate pushed to the scan; orderBy+limit compiles to "
        "TakeOrderedAndProject (heap top-k, no global sort)."
    ),
    "latest_n_per_device": (
        "Single Exchange on user_id; rank filter evaluated inside the "
        "window stage."
    ),
    "latest_order_asof": (
        "As-of via union-tag: one Exchange on the key, one in-partition "
        "sort, forward-fill window — no range explosion."
    ),
    "gapfill_hourly": (
        "Hypertable gap-fill via lead()-anchored gap-run expansion: one "
        "raw scan, Exchange to the hourly aggregate, one lead() window "
        "over the ~10^3x-smaller aggregate, Generate(sequence) emits "
        "each observation's own gap run carrying its LOCF value and "
        "interpolation anchors — no spine, no join-back, no "
        "IGNORE-NULLS search."
    ),
}


def _extras(spark, sf_dir):
    """Library operators outside the driver registry whose plan shape
    is worth pinning in the document."""
    from pyspark.sql import functions as F

    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions import cleaning

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return {
        "contamination_overlap": (
            "Shingles explode through a Generate over a materialized "
            "token array (tokenizer runs once per doc, not per "
            "shingle); benchmark side reduces to distinct 8-byte "
            "hashes and broadcasts; ONE Exchange total (the per-doc "
            "aggregate, with map-side partial distinct).",
            cleaning.contamination_overlap(docs, bench),
        ),
        "pack_concat": (
            "Concat-and-chunk packing layout: the running-offset "
            "window partitions by shard — hashpartitioning Exchange, "
            "never a SinglePartition global sort.",
            cleaning.pack_concat(docs, 2048, 64),
        ),
        "ivf_topk_exact_assignment": (
            "IVF ANN, exact-assignment tier: the centroid table joins "
            "as a BroadcastHashJoin (well, a broadcast nested product "
            "of 16 rows) and the ranking runs entirely in codegen — "
            "no ArrowEvalPython stage anywhere in the plan, unlike the "
            "gemm tier. The candidate re-rank joins on the 8-byte list "
            "id only.",
            _ivf_exact(spark, sf_dir),
        ),
        "bloom_incremental_dedup": (
            "Bloom landing dedup: batch keys probe the sketch through "
            "a BroadcastHashJoin on word_idx (8-byte probe rows, no "
            "payload); only the bloom-positive branch reaches the "
            "exact left-anti join against the corpus keys.",
            _bloom_dedup(spark, sf_dir),
        ),
        "near_dedup_store_probe": (
            "Incremental near-dup dedup, store-probe stage: the batch's "
            "band rows broadcast against the persisted band store — "
            "BroadcastHashJoin on (band, bucket), the store side never "
            "shuffles however large the corpus index grows (the r4 "
            "hot-bucket caps keep that property: batch-side capping is "
            "a window over the already-broadcast side, store-side "
            "capping a broadcast bucket-stats filter). The payload "
            "(shingle) joins downstream move rows only for candidate "
            "ids.",
            _near_dedup_probe(spark, sf_dir),
        ),
        "capped_lsh_candidates": (
            "Hot-bucket-capped LSH candidate generation "
            "(candidate_pairs_from_bands, r4): ONE Exchange on "
            "(band, bucket) into an ObjectHashAggregate collecting "
            "each bucket's sorted member array; the pair expansion — "
            "all-pairs under the cap, hub-star above it — is a pure "
            "array-expression branch inside the projection, so there "
            "is NO self-join and no second pass over the signature "
            "pipeline; the only other Exchange is the final pair "
            "distinct. A boilerplate bucket of k docs emits k-1 star "
            "pairs instead of k^2/2. Since r6 this is the shape "
            "'auto' takes on SALT-LESS band rows (the persisted "
            "stores' frames); salt-bearing rows get the per-bucket "
            "router below.",
            _capped_candidates(spark, sf_dir),
        ),
        "time_weighted_avg": (
            "Hypertable serving (r6): LOCF time-weighted average over "
            "irregular samples. One scan, one Exchange into the "
            "per-key window (lead pairs each sample with its "
            "successor), then the groupBy reuses that clustering — no "
            "joins, no second scan; the BIGINT units x seconds "
            "numerator is partial-aggregable so partition layout "
            "cannot perturb the result.",
            _time_weighted(spark, sf_dir),
        ),
        "substring_dedup_spans": (
            "Exact substring dedup (Lee-et-al semantics without the "
            "suffix array), de-skewed in r7: duplicated grams come "
            "from groupBy(g).count() — the partial HashAggregate "
            "collapses a boilerplate gram to one row per task BEFORE "
            "the exchange — then a LeftSemi join back onto the "
            "positions frame that AQE broadcast-converts when the "
            "dup-gram set fits (it does here; at scale the fallback "
            "is AQE skew-split + the native runtime bloom-filter "
            "join). NO window operator is keyed on the gram anymore "
            "(the pre-r7 Sort+Window-on-g landed every occurrence of "
            "a hot gram in one task); the two remaining windows are "
            "the per-doc span merge, partitioned by doc_id. "
            "hash_shuffle=True swaps the gram string for xxhash64 "
            "before any wide stage (8 bytes/gram in both the count "
            "exchange and the broadcast set).",
            _substring_spans(spark, sf_dir),
        ),
        "subshard_lsh_candidates": (
            "Salted hot-bucket routing — since r6 the DEFAULT "
            "(hot_bucket_mode='auto') whenever the band rows carry a "
            "salt: the salt column rides the band rows from the "
            "signature stage; bucket population AND the per-bucket "
            "diversity signal (approx_count_distinct of the salt — "
            "fixed-memory HLL) come from ONE window over the bucket "
            "keys; shard assignment is a pure projection (diverse hot "
            "buckets pmod-salt into sub-shards, near-constant-salt "
            "boilerplate keeps shard 0 = the single-hub star). Still "
            "no self-join: one Exchange into the collect_list "
            "aggregate (keyed by (band, bucket, _shard)) plus the "
            "final pair distinct; a diverse hot bucket all-pairs "
            "within ~cap-sized shards instead of losing non-hub "
            "pairs.",
            _subshard_candidates(spark, sf_dir),
        ),
        "conversion_pairs": (
            "Range join via window-length bucketing: equi-join on "
            "(user, bucket) with the exact range filter after — "
            "candidates bounded to two buckets per row. (Displaced "
            "from the registry in r8 — scd2_snapshot took its slot; "
            "the identical pair logic stays driver-checked through "
            "streaming_conversion_pairs.)",
            _conversion_pairs(spark, sf_dir),
        ),
        "hourly_rollup": (
            "The reference's flagship rollup (displaced to legacy "
            "parity in r9 — still smoke-run by entry() and "
            "driver-checked via streaming_hourly_rollup): 3-column "
            "pruned scan -> partial HashAggregate (map-side combine) "
            "-> single Exchange on (device, hour) -> final "
            "HashAggregate. Shuffle carries aggregate rows only.",
            _hourly_rollup(spark, sf_dir),
        ),
        "priority_sample_global": (
            "Priority sampling (r8 third arc), global form: priority "
            "= w/u computed in the scan projection, then "
            "TakeOrderedAndProject keeps k+1 rows via distributed "
            "heap top-k — no global Sort, no global Window over the "
            "corpus; the threshold/estimator window runs over the "
            "k+1 survivors only.",
            _priority(spark, sf_dir),
        ),
        "cap_events_per_key": (
            "Hot-key curation cap (r10): the salted two-stage "
            "keep-earliest-N — stage one partitions (key, type, "
            "hash-of-tie salt) so even a single bot key's sort splits "
            "across tasks, stage two ranks the <= salt x N survivors "
            "per group.",
            _cap_events(spark, sf_dir),
        ),
        "dedup_lines": (
            "Corpus-wide line dedup (r9): the line count is a "
            "map-side-combined hash aggregation (a boilerplate line "
            "collapses to one row per task BEFORE the exchange — no "
            "window keyed on the line anywhere), the dup set joins "
            "back (AQE broadcast-converts when it fits), and the "
            "rebuild is one per-doc aggregation.",
            _dedup_lines(spark, sf_dir),
        ),
    }


def _priority(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions.sampling import (
        priority_sample,
    )

    return priority_sample(
        load_table(spark, sf_dir, "events"), "event_id", "value", 100
    )


def _cap_events(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions.cleaning import (
        cap_events_per_key,
    )

    return cap_events_per_key(
        load_table(spark, sf_dir, "events"), 100, salt_partitions=8
    )


def _dedup_lines(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions.cleaning import dedup_lines

    return dedup_lines(
        load_table(spark, sf_dir, "documents"), min_line_chars=1
    )


def _conversion_pairs(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.operators.rangejoin import (
        conversion_pairs,
    )

    return conversion_pairs(load_table(spark, sf_dir, "events"))


def _hourly_rollup(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.operators.agg import hourly_rollup

    return hourly_rollup(load_table(spark, sf_dir, "events"))


def _time_weighted(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.operators.timeseries import (
        time_weighted_avg,
    )

    return time_weighted_avg(load_table(spark, sf_dir, "events"))


def _substring_spans(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions.substrings import (
        duplicated_spans,
    )

    return duplicated_spans(load_table(spark, sf_dir, "documents"), k=20)


def _subshard_candidates(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions import dedup

    docs = load_table(spark, sf_dir, "documents")
    # default mode (auto) over salt-bearing band rows — the shape every
    # default minhash_lsh_pairs run takes since r6
    return dedup.candidate_pairs_from_bands(
        dedup.banded_rows(dedup.shingled_docs(docs), with_salt=True),
    )


def _capped_candidates(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions import dedup

    docs = load_table(spark, sf_dir, "documents")
    return dedup.candidate_pairs_from_bands(
        dedup.banded_rows(dedup.shingled_docs(docs))
    )


def _near_dedup_probe(spark, sf_dir):
    from pyspark.sql import functions as F

    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions import dedup, incremental

    docs = load_table(spark, sf_dir, "documents")
    store_bands = dedup.banded_rows(
        dedup.shingled_docs(docs.filter(F.col("doc_id") < 2500))
    ).localCheckpoint(eager=True)
    batch_bands = dedup.banded_rows(
        dedup.shingled_docs(docs.filter(F.col("doc_id") >= 2500))
    )
    return incremental.store_candidates(store_bands, batch_bands)


def _ivf_exact(spark, sf_dir):
    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, 10, 5, n_centroids=16, n_probe=8)


def _bloom_dedup(spark, sf_dir):
    from pyspark.sql import functions as F

    from cassandra_iot_pipeline_spark.catalog import load_table
    from cassandra_iot_pipeline_spark.functions import bloom

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 3500).select(
        F.col("text").alias("canon")
    ).distinct()
    batch = docs.filter(F.col("doc_id") >= 3000).select(
        "doc_id", F.col("text").alias("canon")
    )
    n_words = bloom.sketch_words_for_keys(4000)
    sketch = bloom.build_bloom_sketch(corpus, "canon", n_words)
    return bloom.incremental_dedup(batch, corpus, sketch, "canon", n_words)


def main() -> None:
    spark = build_session("dump-plans")
    qs = entrymod.queries()
    sf_dir = "/root/testdata/sf0.1"
    out = [
        "# PLANS — physical plans of the headline queries (sf0.1)",
        "",
        "Generated by `python tools/dump_plans.py`. Each plan is the",
        "adaptive physical plan Catalyst produces for the declarative",
        "DataFrame form — the annotations call out the property that",
        "matters at 100 TB.",
        "",
    ]
    shown = 0
    for name, note in SHOWCASE.items():
        plan = formatted_plan(qs[name](spark, sf_dir))
        out.append(f"## {name}")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
        shown += 1
    for name, (note, df) in _extras(spark, sf_dir).items():
        out.append(f"## {name} (library operator)")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(formatted_plan(df).strip())
        out.append("```")
        out.append("")
        shown += 1
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({shown} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
