"""Physical-plan assertions — the 100 TB posture checks.

Correct results are necessary but not sufficient: these tests pin the
*plans* (pushdown reached the scan, dim joins broadcast, top-k compiled
to TakeOrderedAndProject) so a regression that silently de-optimizes a
query fails CI."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T

from cassandra_iot_pipeline_spark.api import IoTEngine
from cassandra_iot_pipeline_spark.catalog import load_table
from cassandra_iot_pipeline_spark.litframe import literal_frame
from cassandra_iot_pipeline_spark.operators.joins import enrich_customers
from cassandra_iot_pipeline_spark.operators.serving import (
    categorical_filter,
    point_lookup,
    top_k_orders,
)
from cassandra_iot_pipeline_spark.plans import (
    assert_broadcast_join,
    formatted_plan,
)
from cassandra_iot_pipeline_spark.streaming import sinks
from tests.conftest import SF_DIR, _jobs_run


@pytest.fixture(scope="module")
def two_epoch_engine(spark, tmp_path_factory):
    """An IoTEngine whose tables hold two epochs, so every read plans
    the last-write-wins reconcile window."""
    engine = IoTEngine(spark, str(tmp_path_factory.mktemp("warehouse")))
    events = load_table(spark, SF_DIR, "events")
    engine.ingest_batch(events, epoch_id=0)
    engine.ingest_batch(events, epoch_id=1)
    return engine


@pytest.fixture
def spark_reads(monkeypatch):
    """Every serving read over the driver row bound: the reads plan on
    Spark, the fallback the pins below hold to."""
    monkeypatch.setattr(sinks, "DRIVER_READ_MAX_ROWS", 0)


ENGINE_READS = {
    "latest_events": lambda e: e.latest_events(13, 10),
    "hourly_aggregates": lambda e: e.hourly_aggregates(13),
    "device_hourly_range": lambda e: e.device_hourly_range(13, 0, 1 << 40),
}


@pytest.mark.parametrize("name", ENGINE_READS)
def test_engine_read_below_bound_is_local_table_scan(two_epoch_engine, name):
    """Under the driver row bound a serving read is a LocalRelation built
    from the sink's part files: no parquet scan, nothing for Spark to
    run."""
    plan = formatted_plan(ENGINE_READS[name](two_epoch_engine))
    assert "LocalTableScan" in plan and "Scan parquet" not in plan, plan


@pytest.mark.parametrize(
    "read, pushed",
    [
        (ENGINE_READS["latest_events"], "EqualTo(user_id,13)"),
        (ENGINE_READS["hourly_aggregates"], "EqualTo(device_id,13)"),
        (ENGINE_READS["device_hourly_range"], "EqualTo(device_id,13)"),
    ],
    ids=["latest_events", "hourly_aggregates", "device_hourly_range"],
)
def test_engine_read_pk_filter_reaches_scan(two_epoch_engine, spark_reads, read, pushed):
    """The device equality is pushed through the reconcile Window into
    the one parquet scan beneath it."""
    plan = formatted_plan(read(two_epoch_engine))
    assert "Window" in plan and len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert pushed in plan.split("PushedFilters:")[1].splitlines()[0], plan


def test_engine_latest_events_is_take_ordered(two_epoch_engine, spark_reads):
    plan = formatted_plan(two_epoch_engine.latest_events(13, 10))
    assert "TakeOrderedAndProject" in plan, plan


def test_engine_hourly_aggregates_has_no_range_exchange(two_epoch_engine, spark_reads):
    """One device's buckets sort in one partition: no global sort's
    range exchange (and its sampling job)."""
    plan = formatted_plan(two_epoch_engine.hourly_aggregates(13))
    assert "rangepartitioning" not in plan, plan
    assert "Coalesce" in plan, plan


@pytest.fixture(scope="module")
def streamed_engine(spark, tmp_path_factory):
    """An IoTEngine whose hourly table holds the per-epoch partials of a
    multi-batch ``ingest_stream``."""
    from cassandra_iot_pipeline_spark.streaming.staging import stage_events_stream

    base = tmp_path_factory.mktemp("streamed")
    engine = IoTEngine(spark, str(base / "warehouse"))
    engine.ingest_stream(
        stage_events_stream(spark, SF_DIR, base_dir=str(base / "staging")),
        max_files_per_trigger=8,
    )
    return engine


@pytest.mark.parametrize("name", ["hourly_aggregates", "device_hourly_range"])
def test_engine_folded_hourly_read_pushes_device_filter(streamed_engine, spark_reads, name):
    """Over partials the hourly fallback plans the fold: the newest
    complete epoch per PK (a Window), the (PK, epoch) dedup and the
    fold (HashAggregates) over one parquet scan, with the device
    equality pushed into that scan."""
    plan = formatted_plan(ENGINE_READS[name](streamed_engine))
    assert "Window" in plan and "HashAggregate" in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "EqualTo(device_id,13)" in plan.split("PushedFilters:")[1].splitlines()[0], plan


def test_empty_literal_frame_is_a_local_relation(spark):
    """An empty drop list (incremental_near_dedup) must not plan a
    Python-RDD scan: the frame is an empty LocalRelation, collects
    with no job, and keeps the DDL's schema, nullability included."""
    ddl = "doc_id BIGINT NOT NULL, tag STRING, xs ARRAY<DOUBLE>"
    df = literal_frame(spark, [], ddl)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan
    assert _jobs_run(spark, df.collect) == 0
    assert df.schema == T._parse_datatype_string(ddl)


def test_point_lookup_filter_pushed(spark):
    events = load_table(spark, SF_DIR, "events")
    plan = formatted_plan(point_lookup(events, 13))
    assert "PushedFilters" in plan
    assert "EqualTo(user_id,13)" in plan


def test_categorical_filter_pushed(spark):
    events = load_table(spark, SF_DIR, "events")
    plan = formatted_plan(categorical_filter(events, "purchase"))
    assert "PushedFilters" in plan and "event_type" in plan


def test_enrichment_join_is_broadcast(spark):
    df = enrich_customers(
        load_table(spark, SF_DIR, "customer"),
        load_table(spark, SF_DIR, "nation"),
        load_table(spark, SF_DIR, "region"),
    )
    assert_broadcast_join(df)
    # the fact side must not shuffle: no Exchange above the customer scan
    plan = formatted_plan(df)
    assert "Exchange hashpartitioning" not in plan


def test_top_k_is_take_ordered(spark):
    orders = load_table(spark, SF_DIR, "orders")
    plan = formatted_plan(top_k_orders(orders, 10))
    assert "TakeOrderedAndProject" in plan


def test_user_event_metrics_single_window_sort(spark):
    """Three window functions over the same ordering must plan ONE
    shuffle + ONE sort (Catalyst folds them into a single Window node)."""
    from cassandra_iot_pipeline_spark.operators.windows import user_event_metrics

    import re

    events = load_table(spark, SF_DIR, "events")
    plan = formatted_plan(user_event_metrics(events))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan


def test_event_type_totals_is_one_expand_aggregate(spark):
    """rollup(event_type) = grouping-sets Expand + the normal two-phase
    aggregate — exactly one shuffle for both grouping levels (plus one
    for the distinct-count expand), never a union of two scans."""
    from cassandra_iot_pipeline_spark.operators.agg import event_type_totals

    events = load_table(spark, SF_DIR, "events")
    import re

    plan = formatted_plan(event_type_totals(events))
    assert "Expand" in plan
    # single scan of the source (a naive A5 UNION A6 would scan twice)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_text_profile_is_single_scan_no_shuffle(spark):
    """The full text-analysis profile is a pure per-row projection: one
    parquet scan, zero exchanges, no Python workers."""
    from cassandra_iot_pipeline_spark.functions.text import text_profile

    docs = load_table(spark, SF_DIR, "documents")
    import re

    plan = formatted_plan(text_profile(docs))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, plan
    assert "Python" not in plan  # no UDFs anywhere in the profile


def test_redact_pii_no_shuffle(spark):
    """Redaction is a narrow projection: zero Exchange, one scan."""
    from cassandra_iot_pipeline_spark.functions.cleaning import redact_pii

    docs = load_table(spark, SF_DIR, "documents")
    plan = formatted_plan(redact_pii(docs))
    assert "Exchange" not in plan


def test_contamination_benchmark_is_broadcast(spark):
    """The benchmark shingle set must broadcast: the corpus side of the
    hit-join sees no hash-partitioned Exchange below the join (the only
    hashpartitioning Exchanges are the bench-side distinct and the final
    per-doc aggregate)."""
    from pyspark.sql import functions as F

    from cassandra_iot_pipeline_spark.functions.cleaning import (
        contamination_overlap,
    )

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    plan = formatted_plan(contamination_overlap(docs, bench))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_concat_shards_not_global_sort(spark):
    """Packing must window per shard (hashpartitioning on shard), never
    a single-partition global sort — the unpartitioned-Window trap."""
    from cassandra_iot_pipeline_spark.functions.cleaning import pack_concat

    docs = load_table(spark, SF_DIR, "documents")
    plan = formatted_plan(pack_concat(docs, block_size=256, n_shards=8))
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_quality_flags_is_single_scan_no_shuffle(spark):
    """The rule-based quality filter is a pure per-row projection: one
    parquet scan, zero exchanges, no Python workers — map-only at any
    corpus size."""
    from cassandra_iot_pipeline_spark.functions.text import quality_flags

    docs = load_table(spark, SF_DIR, "documents")
    import re

    plan = formatted_plan(quality_flags(docs))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, plan
    assert "Python" not in plan


def test_repetition_signals_plan_shape(spark):
    """Repetition metrics stay JVM-side and doc-local: a single Generate
    explodes all n-gram sizes at once, aggregation is hash-based with a
    map-side partial collapsing doc-local repeats before any exchange,
    and no Python workers appear anywhere."""
    from cassandra_iot_pipeline_spark.functions.text import repetition_signals

    docs = load_table(spark, SF_DIR, "documents")
    plan = formatted_plan(repetition_signals(docs))
    assert "Python" not in plan, plan
    # one Generate for all gram sizes on the gram path, one for lines
    import re

    assert len(re.findall(r"\(\d+\) Generate", plan)) == 2, plan
    assert "HashAggregate" in plan


def test_tfidf_plan_shape(spark):
    """tf-idf ranks per doc with a partitioned window (never a global
    sort) and stays JVM-side; the scalar corpus count arrives via
    broadcast, not a driver collect baked into the plan."""
    from cassandra_iot_pipeline_spark.functions.text import tfidf_top_terms

    docs = load_table(spark, SF_DIR, "documents")
    plan = formatted_plan(tfidf_top_terms(docs, k=5))
    assert "Python" not in plan, plan
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # no global ordering anywhere: Sort nodes must be partition-local
    import re

    for m in re.finditer(r"\(\d+\) Sort", plan):
        pass
    assert "rangepartitioning" not in plan, plan


def test_capped_lsh_candidates_no_self_join(spark):
    """r4 hot-bucket formulation: candidate generation is ONE bucket
    aggregation + array-expression pair expansion — the plan must carry
    no join at all (the r3 self-join is gone), and no per-row Python."""
    from cassandra_iot_pipeline_spark.functions.dedup import (
        banded_rows,
        candidate_pairs_from_bands,
        shingled_docs,
    )

    docs = load_table(spark, SF_DIR, "documents")
    plan = formatted_plan(
        candidate_pairs_from_bands(banded_rows(shingled_docs(docs)))
    )
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, join
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lsh_bucketed_ann_single_chain_no_join(spark):
    """r12 hot-bucket formulation: the query/candidate split is ONE
    (tbl, sig) bucket aggregation with conditional collect_lists plus
    array pair expansion — no join, so the scan + signature chain
    appears (and executes) exactly once. The bucket exchange is pinned
    at explicit width (REPARTITION_BY_NUM, AQE-exempt) so the
    per-bucket pair expansion and codegen re-rank keep their
    parallelism instead of being byte-coalesced to one task."""
    from cassandra_iot_pipeline_spark.functions.similarity import (
        lsh_bucketed_ann,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = formatted_plan(lsh_bucketed_ann(emb))
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, join
    # one scan, one signature chain — the two-branch join form planned
    # (and ran) both twice (each node appears once as a "(n) Name"
    # detail entry; the tree listing above repeats the names)
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_embedding_near_dups_expected_rows_pins_block_width(spark):
    """r13: the ``expected_rows`` cardinality hint sizes an AQE-exempt
    hash(block) exchange to the true block count, so the summarize +
    GEMM Python stages run at block parallelism (measured -16%/-22%/-55%
    at 4/8/16 blocks). Below 4 data-bearing blocks the pin is a measured
    wash and must NOT fire (the r12 lesson: empty/near-empty partitions
    under Python-facing stages each open an Arrow worker channel)."""
    from cassandra_iot_pipeline_spark.functions.similarity import (
        embedding_near_dups,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    # 500 fixture vectors, block_size 64 -> 8 data-bearing blocks
    plan = formatted_plan(
        embedding_near_dups(emb, 0.3, block_size=64, expected_rows=500)
    )
    assert "REPARTITION_BY_NUM" in plan, plan
    # no hint -> plan left to AQE (no pin) — and below the 4-block
    # floor (2 blocks) the pin must not fire either
    for q in (
        embedding_near_dups(emb, 0.3, block_size=64),
        embedding_near_dups(emb, 0.3, block_size=256, expected_rows=500),
    ):
        assert "REPARTITION_BY_NUM" not in formatted_plan(q)


def test_frequent_tokens_routes_sliver_not_population(spark):
    """The CMS-routed exact heavy hitters must keep the sketch-routed
    shape: the candidate filter sits UNDER the exact aggregation (only
    the sliver shuffles), the counter row arrives by broadcast, and
    nothing leaves the JVM."""
    from cassandra_iot_pipeline_spark.functions.sketches import frequent_tokens

    docs = load_table(spark, SF_DIR, "documents")
    plan = formatted_plan(frequent_tokens(docs, 0.02))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # exactly ONE hash-partitioned exchange — the exact groupBy of the
    # candidate sliver. A second one would mean the full token
    # population is shuffling somewhere (the naive plan this operator
    # exists to avoid). The CM-bound Filter sits below it.
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "Filter" in plan


# --- unbounded-FOLLOWING frame lint (r11, verdict #5) ---------------------


def test_frame_lint_flags_a_planted_offender(spark):
    """The lint recognizes the O(rows^2) frame class: a moving lower
    bound under an unboundedfollowing upper (WindowExec re-scans to
    the partition end per row) — and does NOT flag the one-pass
    whole-partition frame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cassandra_iot_pipeline_spark.plans import (
        unbounded_following_frames,
    )

    df = spark.range(10).select("id", (F.col("id") % 3).alias("g"))
    w_bad = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    planted = df.select(F.last("id").over(w_bad).alias("x"))
    assert unbounded_following_frames(planted)
    w_ok = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    whole = df.select(F.max("id").over(w_ok).alias("x"))
    assert unbounded_following_frames(whole) == []


def test_no_unbounded_following_frames_in_plan_corpus(spark):
    """DESIGN.md's r10 rule made executable (r10 verdict #5): walk the
    PLANS.md corpus (the showcase registry queries + every library
    extra) and fail on any WindowExec whose frame re-scans to the
    partition end per row. The 85.6 s -> 7.8 s as-of fill find came
    from ONE such frame; nothing but this lint stops the next one.
    (No allowlist entries yet — add one here WITH a justification
    comment if a whole-partition-scan-per-row frame is ever truly
    required.)"""
    import __spark_entry__ as entrymod
    from tools.dump_plans import SHOWCASE, _extras

    from cassandra_iot_pipeline_spark.plans import (
        unbounded_following_frames,
    )

    qs = entrymod.queries()
    offenders = {}
    for name in SHOWCASE:
        bad = unbounded_following_frames(qs[name](spark, SF_DIR))
        if bad:
            offenders[name] = bad
    for name, (_, df) in _extras(spark, SF_DIR).items():
        bad = unbounded_following_frames(df)
        if bad:
            offenders[name] = bad
    assert offenders == {}
