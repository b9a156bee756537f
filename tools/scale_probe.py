"""Scale probe: run the flagship operators on generated data far beyond
the fixtures and report throughput. Evidence for the 100 TB design
claims — every input is produced by the partition-invariant hash
generator (no driver-side data), so the same harness runs at any size.

Usage: python tools/scale_probe.py [n_events_millions] [n_devices]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from cassandra_iot_pipeline_spark.operators.agg import hourly_rollup  # noqa: E402
from cassandra_iot_pipeline_spark.operators.serving import (  # noqa: E402
    latest_n_per_device,
)
from cassandra_iot_pipeline_spark.operators.upsert import latest_by_pk  # noqa: E402
from cassandra_iot_pipeline_spark.functions.dedup import (  # noqa: E402
    minhash_lsh_pairs,
    simhash_near_dup_pairs,
)
from cassandra_iot_pipeline_spark.session import build_session  # noqa: E402


def probe_events(spark, n_events: int, n_devices: int, start: int = 0):
    """Synthetic events shaped like the fixture table, hash-derived.
    ``start`` shifts the id range so successive calls produce disjoint
    event populations (the probe_documents convention)."""
    df = spark.range(start, start + n_events)
    return df.select(
        F.col("id").alias("event_id"),
        F.timestamp_millis(
            F.lit(1704067200000) + F.pmod(F.xxhash64(F.lit("t"), F.col("id")), F.lit(30 * 86400)) * 1000
        ).alias("ts"),
        F.pmod(F.xxhash64(F.lit("u"), F.col("id")), F.lit(n_devices)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("click", "view", "purchase", "signup", "error")]),
            (F.pmod(F.xxhash64(F.lit("e"), F.col("id")), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.round(F.pmod(F.xxhash64(F.lit("v"), F.col("id")), F.lit(20000)) / 100, 2)).alias("value"),
    )


def probe_documents(spark, n_docs: int, vocab_size: int = 2000, start: int = 0):
    """Synthetic documents: 40-120 hash-chosen words from a shared
    vocabulary (mimics the fixture corpus shape at any size). Text is a
    pure function of the range id, so ``start`` shifts which documents
    exist — two calls overlap exactly on their shared id range."""
    vocab = F.array(
        *[F.format_string("word%04d", F.lit(i)) for i in range(vocab_size)]
    )
    n_words = (F.pmod(F.xxhash64(F.lit("n"), F.col("id")), F.lit(80)) + 40).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab,
            (F.pmod(F.xxhash64(F.col("id"), i), F.lit(vocab_size)) + 1).cast("int"),
        ),
    )
    return spark.range(start, start + n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", words).alias("text"),
        F.lit("syn").alias("lang"),
        F.lit("probe").alias("source"),
        F.lit(0).alias("n_chars"),
    )


def timed(label, df, results):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    results[label] = round(time.perf_counter() - t0, 2)
    # incremental progress on stderr so a long probe is observable
    print(f"[probe] {label}: {results[label]}s", file=sys.stderr, flush=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_events = int(float(args[0]) * 1_000_000) if args else 20_000_000
    n_devices = int(args[1]) if len(args) > 1 else 10_000
    spark = build_session("scale-probe")
    events = probe_events(spark, n_events, n_devices)

    results: dict[str, float] = {}
    # Warm-up: run the flagship plan on a 2M-row slice, untimed.
    # Measured on this runtime: the first query of a session pays
    # ~3-4x its steady-state time in codegen/JIT (100M rollup: 285s
    # cold vs 69s warm, identical plan) — without this the probe's
    # first row is a JIT benchmark, not an operator benchmark.
    t0 = time.perf_counter()
    hourly_rollup(probe_events(spark, 2_000_000, n_devices)).write.format(
        "noop"
    ).mode("overwrite").save()
    results["warmup_sec"] = round(time.perf_counter() - t0, 2)
    # --only: skip the always-on headline sections and run just the
    # requested flag sections (saves ~20 min per targeted probe run)
    if "--only" not in sys.argv:
        timed("hourly_rollup", hourly_rollup(events), results)
        timed("latest_n_per_device", latest_n_per_device(events, 3), results)
        timed(
            "upsert_dedup",
            latest_by_pk(events, ("user_id", "event_type"), "ts", ("event_id",)),
            results,
        )

        n_docs = max(20_000, n_events // 1000)
        docs = probe_documents(spark, n_docs)
        timed("minhash_lsh_pairs", minhash_lsh_pairs(docs, 0.8), results)
        timed("simhash_near_dup", simhash_near_dup_pairs(docs, 3), results)
        results["n_docs"] = n_docs

        # incremental near-dup: one online step landing a half-corpus batch
        # against a store of the other half — the steady-state shape
        # (store >> batch happens at larger corpus/batch ratios; the store
        # side is a shuffle-free broadcast probe either way)
        from cassandra_iot_pipeline_spark.functions.dedup import (
            banded_rows,
            shingled_docs,
        )
        from cassandra_iot_pipeline_spark.functions.incremental import (
            near_dedup_batch,
        )

        half = n_docs // 2
        store_docs = probe_documents(spark, half)
        batch_docs = probe_documents(spark, n_docs - half, start=half)
        store_sh = shingled_docs(store_docs).localCheckpoint(eager=True)
        store_bands = banded_rows(store_sh).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        step = near_dedup_batch(
            batch_docs, store_bands, store_sh.select("doc_id", "sh"), 0.8
        )
        step.survivors.write.format("noop").mode("overwrite").save()
        results["near_dedup_batch_half_corpus"] = round(time.perf_counter() - t0, 2)
        print(
            f"[probe] near_dedup_batch_half_corpus: "
            f"{results['near_dedup_batch_half_corpus']}s",
            file=sys.stderr, flush=True,
        )

        # corpus-cleaning ops at the same document scale: redaction is a
        # narrow scan; contamination broadcasts a ~1% "benchmark" slice's
        # shingle hashes; packing windows per shard
        from cassandra_iot_pipeline_spark.functions.cleaning import (
            contamination_overlap,
            pack_concat,
            redact_pii,
        )

        timed("redact_pii", redact_pii(docs), results)

        from cassandra_iot_pipeline_spark.functions.text import (
            repetition_signals,
            tfidf_top_terms,
        )

        timed("repetition_signals", repetition_signals(docs), results)
        timed("tfidf_top_terms", tfidf_top_terms(docs, 5), results)
        bench = docs.filter(F.col("doc_id") % 101 == 0)
        timed(
            "contamination_overlap", contamination_overlap(docs, bench), results
        )
        timed("pack_concat", pack_concat(docs, 2048, 64), results)

        # Bloom incremental dedup: corpus = this doc set's canonical keys,
        # batch = a half-overlapping shifted copy — the landing-batch shape.
        # Timed end to end: sketch probe + exact verify of the positives.
        from cassandra_iot_pipeline_spark.functions.bloom import (
            build_bloom_sketch,
            incremental_dedup,
            sketch_words_for_keys,
        )

        corpus_keys = docs.select(F.col("text").alias("canon")).distinct()
        # genuinely half-overlapping: ids [n/2, 3n/2) share [n/2, n) with
        # the corpus and bring n/2 new texts (text is a function of the id,
        # so shifting doc_id alone would produce a 100%-duplicate batch and
        # time only the worst-case all-positive path)
        batch = probe_documents(spark, n_docs, start=n_docs // 2).select(
            "doc_id", F.col("text").alias("canon")
        )
        n_words = sketch_words_for_keys(n_docs)
        sketch = build_bloom_sketch(corpus_keys, "canon", n_words)
        timed(
            "bloom_incremental_dedup",
            incremental_dedup(batch, corpus_keys, sketch, "canon", n_words),
            results,
        )

        # the full curation chain end-to-end (filter -> redact -> dedup ->
        # resolve -> split); timed around the materialization of the final
        # curated frame, which pulls the whole DAG
        from cassandra_iot_pipeline_spark.functions.curation import (
            CurationConfig,
            curate_corpus,
        )

        # synthetic "wordNNNN" tokens are half digits, so the default
        # alpha-ratio floor would empty the corpus at stage 1 and the probe
        # would time nothing; relax it so every stage sees real volume
        cfg = CurationConfig(min_alpha_ratio=0.2)
        t0 = time.perf_counter()
        curated = curate_corpus(docs, cfg).curated
        curated.write.format("noop").mode("overwrite").save()
        results["curate_corpus"] = round(time.perf_counter() - t0, 2)

        # duplicate-cluster resolution: chain-shaped clusters of 4 docs
        # (diameter 3 — worse than the near-clique graphs real dedup
        # emits), one edge row per id. Timed around the whole call since
        # label propagation iterates internally.
        from cassandra_iot_pipeline_spark.functions.clusters import (
            connected_components,
        )

        n_edges = max(1_000_000, n_events // 20)
        chain_len = 4
        idx = spark.range(n_edges)
        cluster = F.col("id") / (chain_len - 1)
        pos = F.pmod(F.col("id"), F.lit(chain_len - 1))
        pairs = idx.select(
            (F.floor(cluster) * chain_len + pos).cast("long").alias("doc_a"),
            (F.floor(cluster) * chain_len + pos + 1).cast("long").alias("doc_b"),
        )
        t0 = time.perf_counter()
        connected_components(pairs).write.format("noop").mode("overwrite").save()
        results["connected_components"] = round(time.perf_counter() - t0, 2)
        results["cc_edges"] = n_edges
        # Count-Min sketch: build over every token occurrence of the corpus
        # (~80 words/doc), then estimate the full vocabulary — the
        # heavy-hitter monitoring shape. Sketch size is fixed (depth x width
        # counters) regardless of corpus size.
        from cassandra_iot_pipeline_spark.functions.sketches import (
            cm_estimate,
            cm_sketch,
        )

        token_rows = docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        t0 = time.perf_counter()
        sk = cm_sketch(token_rows)
        cm_estimate(token_rows, sk).write.format("noop").mode("overwrite").save()
        results["cm_sketch_and_estimate"] = round(time.perf_counter() - t0, 2)
        print(
            f"[probe] cm_sketch_and_estimate: {results['cm_sketch_and_estimate']}s",
            file=sys.stderr, flush=True,
        )

        # Z-ordered at-rest layout: the one probe that must hit real disk
        # (the cost IS the range-shuffle + parquet write). 10% of the event
        # volume keeps the probe's disk footprint bounded while still
        # measuring the shuffle+sort+write pipeline at scale.
        import shutil
        import tempfile

        from cassandra_iot_pipeline_spark.storage import write_zordered

        zdir = tempfile.mkdtemp(prefix="scale_probe_zorder_")
        # quantize user_id into the 16-bit grid (the guard rejects raw ids
        # >= 2^16 — exactly what it exists for); pmod keeps the layout's
        # locality structure for a hash-distributed id
        z_events = probe_events(spark, n_events // 10, n_devices).withColumn(
            "hour", F.hour("ts")
        ).withColumn("user_q", F.pmod(F.col("user_id"), F.lit(1 << 16)))
        try:
            t0 = time.perf_counter()
            write_zordered(z_events, zdir, col_a="user_q", col_b="hour", bits=16)
            results["write_zordered_10pct"] = round(time.perf_counter() - t0, 2)
            print(
                f"[probe] write_zordered_10pct: {results['write_zordered_10pct']}s",
                file=sys.stderr, flush=True,
            )
        finally:
            shutil.rmtree(zdir, ignore_errors=True)

        # Hot-bucket skew: ONE boilerplate template x 10k near-identical
        # docs — every doc lands in the same bucket in every band, the
        # corpus shape that kills uncapped banded LSH (~bands*k^2/2
        # candidates on single tasks). The capped operator star-routes it;
        # candidate count recorded to show the O(k) bound. The uncapped
        # contrast runs at 1/8 the size (its cost is quadratic — the point).
        from cassandra_iot_pipeline_spark.functions.dedup import (
            banded_rows as _banded,
            candidate_pairs_from_bands,
            shingled_docs as _shingled,
        )

        template = F.lit(
            "all rights reserved terms of service privacy policy cookie "
            "notice subscribe to our newsletter copyright footer boilerplate "
        )
        n_hot = 10_000
        hot_docs = spark.range(n_hot).select(
            F.col("id").alias("doc_id"),
            F.concat(template, F.lit("variant "), (F.col("id") % 7).cast("string")).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("web").alias("source"),
            F.lit(0).alias("n_chars"),
        )
        t0 = time.perf_counter()
        n_cand = candidate_pairs_from_bands(
            _banded(_shingled(hot_docs))
        ).count()
        results["hot_bucket_capped_10k_template"] = round(time.perf_counter() - t0, 2)
        results["hot_bucket_capped_candidates"] = n_cand
        hot_small = hot_docs.filter(F.col("doc_id") < n_hot // 8)
        t0 = time.perf_counter()
        n_unc = candidate_pairs_from_bands(
            _banded(_shingled(hot_small)), max_bucket_size=None
        ).count()
        results["hot_bucket_uncapped_1250_template"] = round(
            time.perf_counter() - t0, 2
        )
        results["hot_bucket_uncapped_candidates"] = n_unc
        print(
            f"[probe] hot_bucket capped 10k: "
            f"{results['hot_bucket_capped_10k_template']}s / {n_cand} candidates; "
            f"uncapped 1250: {results['hot_bucket_uncapped_1250_template']}s / "
            f"{n_unc} candidates",
            file=sys.stderr, flush=True,
        )

        # IVFADC (ivf_pq_topk) over hash-derived embeddings: the PQ code
        # scan moves 8-byte codes, the coarse stage prunes to n_probe/16 of
        # the corpus, the exact re-rank touches only the shortlist sliver.
        from cassandra_iot_pipeline_spark.functions.similarity import ivf_pq_topk

        n_vecs = 100_000
        emb = spark.range(n_vecs).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda d: (
                    F.pmod(F.xxhash64(F.col("id"), d), F.lit(2001)) - 1000
                ).cast("double")
                / 1000.0,
            ).alias("embedding"),
            F.lit("probe").alias("label"),
        )
        t0 = time.perf_counter()
        ivf_pq_topk(emb, n_queries=10, k=5, n_probe=4).write.format("noop").mode(
            "overwrite"
        ).save()
        results["ivf_pq_topk_100k"] = round(time.perf_counter() - t0, 2)
        results["ivf_pq_n_vecs"] = n_vecs
        print(
            f"[probe] ivf_pq_topk_100k: {results['ivf_pq_topk_100k']}s",
            file=sys.stderr, flush=True,
        )

        # Streaming near-dup store mechanics at scale: 10 epochs of 5k docs
        # through the parquet-backed pipeline (real store reads/writes,
        # bucket stats, watermark guard) with a mid-replay compaction.
        # First vs last epoch timing shows per-batch cost tracking the
        # batch, not the accumulated corpus (the store side is a broadcast
        # probe of the batch's band rows).
        import shutil as _shutil
        import tempfile as _tempfile

        from cassandra_iot_pipeline_spark.streaming.dedup import NearDedupPipeline

        store_dir = _tempfile.mkdtemp(prefix="scale_probe_neardedup_")
        pipe = NearDedupPipeline(store_dir, threshold=0.8, compact_every=5)
        per_epoch = 5_000
        epoch_times = []
        try:
            for e in range(10):
                b = probe_documents(spark, per_epoch, start=e * per_epoch)
                t0 = time.perf_counter()
                pipe.write_batch(b, epoch_id=e)
                epoch_times.append(round(time.perf_counter() - t0, 2))
            results["near_dedup_pipeline_epoch_first"] = epoch_times[0]
            results["near_dedup_pipeline_epoch_last"] = epoch_times[-1]
            results["near_dedup_pipeline_total_50k"] = round(sum(epoch_times), 2)
        finally:
            _shutil.rmtree(store_dir, ignore_errors=True)
        print(
            f"[probe] near_dedup_pipeline 10x5k epochs: {epoch_times}",
            file=sys.stderr, flush=True,
        )

        # Persisted ANN index lifecycle at the same 100k-vector scale:
        # build (centroids + codebook + epoch-0 codes), one incremental
        # 10k-vector add, compaction into lst=-partitioned inverted lists,
        # then a 10-query probe answered from the partition-pruned store.
        from cassandra_iot_pipeline_spark.functions.ann_store import AnnIndexStore

        ann_dir = _tempfile.mkdtemp(prefix="scale_probe_ann_")
        try:
            idx = AnnIndexStore(ann_dir)
            t0 = time.perf_counter()
            idx.build(emb)
            results["ann_store_build_100k"] = round(time.perf_counter() - t0, 2)
            delta = spark.range(n_vecs, n_vecs + 10_000).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda d: (
                        F.pmod(F.xxhash64(F.col("id"), d), F.lit(2001)) - 1000
                    ).cast("double")
                    / 1000.0,
                ).alias("embedding"),
            )
            t0 = time.perf_counter()
            idx.add_batch(delta, epoch_id=1)
            results["ann_store_add_10k"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            idx.compact(spark)
            results["ann_store_compact"] = round(time.perf_counter() - t0, 2)
            queries = emb.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            t0 = time.perf_counter()
            idx.topk(queries, k=5, n_probe=4).write.format("noop").mode(
                "overwrite"
            ).save()
            results["ann_store_query_10"] = round(time.perf_counter() - t0, 2)
        finally:
            _shutil.rmtree(ann_dir, ignore_errors=True)
        print(
            f"[probe] ann_store build/add/compact/query: "
            f"{results['ann_store_build_100k']}/{results['ann_store_add_10k']}/"
            f"{results['ann_store_compact']}/{results['ann_store_query_10']}s",
            file=sys.stderr, flush=True,
        )

        # Streaming embedding dedup at the same index scale (r4 verdict #8:
        # the one operator family with no SCALE row): bootstrap a 100k
        # int8-verified index, then 10 epochs of 2k-vector batches through
        # the full write path (watermark guard, ADC probe with the
        # replayed-copy bound, exact-verified drop, curated write, index
        # landing, compaction cadence). Flat per-epoch times = per-batch
        # cost tracks the batch, not the accumulated index.
        from cassandra_iot_pipeline_spark.streaming.ann import (
            EmbeddingDedupPipeline,
        )

        def probe_embeddings(lo: int, hi: int):
            return spark.range(lo, hi).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda d: (
                        F.pmod(F.xxhash64(F.col("id"), d), F.lit(2001)) - 1000
                    ).cast("float")
                    / 1000.0,
                ).alias("embedding"),
                F.lit(0).alias("label"),
            )

        edd_dir = _tempfile.mkdtemp(prefix="scale_probe_edd_")
        try:
            # untimed warm-up on a throwaway mini index: the first
            # write_batch of a session pays the whole path's codegen/JIT
            # (measured 186 s first epoch vs ~50 s steady before this),
            # same artifact the event-probe warm-up removes
            widx = AnnIndexStore(f"{edd_dir}/warm_idx")
            widx.build(probe_embeddings(0, 3_000), store_vectors="int8")
            EmbeddingDedupPipeline(
                f"{edd_dir}/warm_idx", f"{edd_dir}/warm_curated", threshold=0.95
            ).write_batch(probe_embeddings(3_000, 3_500), epoch_id=0)

            eidx = AnnIndexStore(f"{edd_dir}/idx")
            eidx.build(probe_embeddings(0, n_vecs), store_vectors="int8")
            epipe = EmbeddingDedupPipeline(
                f"{edd_dir}/idx", f"{edd_dir}/curated", threshold=0.95,
                compact_every=5,
            )
            e_times = []
            per_epoch_vecs = 2_000
            for e in range(10):
                b = probe_embeddings(
                    n_vecs + e * per_epoch_vecs, n_vecs + (e + 1) * per_epoch_vecs
                )
                t0 = time.perf_counter()
                epipe.write_batch(b, epoch_id=e)
                e_times.append(round(time.perf_counter() - t0, 2))
            results["embedding_dedup_epoch_first"] = e_times[0]
            results["embedding_dedup_epoch_last"] = e_times[-1]
            results["embedding_dedup_total_20k_vs_100k_index"] = round(
                sum(e_times), 2
            )
        finally:
            _shutil.rmtree(edd_dir, ignore_errors=True)
        print(
            f"[probe] embedding_dedup 10x2k epochs vs 100k index: {e_times}",
            file=sys.stderr, flush=True,
        )

        # Coarse-centroid Lloyd refinement at n_centroids=64 (r4 verdict
        # #5) on a smooth (hash-uniform) corpus: there the list imbalance
        # comes entirely from where the sample happened to land, which is
        # exactly what Lloyd corrects (centroidal layout). On corpora of
        # ATOMIC semantic clusters the floor is the cluster granularity
        # itself — k-means optimizes distortion, not balance, and ties
        # route a whole cluster to one list (measured separately while
        # tuning this probe: 256 atomic clusters / 64 centroids stays at
        # max/mean ~2.1 with or without refinement, recall 1.0) — so the
        # smooth number is the honest measure of the quantizer, and the
        # clustered caveat is recorded in SCALE.md. Reported: list-size
        # max/mean (the n_probe/n_centroids scan-fraction claim holds only
        # when this is ~1) and routing recall of brute-force top-5.
        from cassandra_iot_pipeline_spark.functions.similarity import (
            _centroid_ranked,
            _coarse_centroids,
        )

        n_clustered = 100_000
        clustered = spark.range(n_clustered).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda d: (
                    F.pmod(F.xxhash64(F.col("id"), d), F.lit(2001)) - 1000
                ).cast("double")
                / 1000.0,
            ).alias("embedding"),
        )
        truth = None
        for iters in (0, 2):
            t0 = time.perf_counter()
            cents = _coarse_centroids(clustered, 64, iters)
            ranked = _centroid_ranked(clustered, cents)
            lists = (
                ranked.filter(F.col("crank") == 1).groupBy("cent_vid").count()
            )
            row = lists.agg(
                F.max("count").alias("mx"), F.avg("count").alias("mean")
            ).first()
            results[f"coarse_iters{iters}_max_over_mean_list"] = round(
                row["mx"] / row["mean"], 2
            )
            results[f"coarse_iters{iters}_sec"] = round(
                time.perf_counter() - t0, 2
            )
            # routing recall: is a true top-5 neighbor's list probed
            # (n_probe=8) for its query?
            from cassandra_iot_pipeline_spark.functions.similarity import (
                cosine_topk,
            )

            if truth is None:
                truth = cosine_topk(clustered, n_queries=10, k=5).select(
                    "query_id", "cand_id"
                ).localCheckpoint(eager=True)
            cand_lists = ranked.filter(F.col("crank") == 1).select(
                F.col("vec_id").alias("cand_id"), F.col("cent_vid").alias("lst")
            )
            probe_lists = ranked.filter(
                (F.col("vec_id") < 10) & (F.col("crank") <= 8)
            ).select(F.col("vec_id").alias("query_id"), F.col("cent_vid").alias("lst"))
            hit = truth.join(cand_lists, "cand_id").join(
                probe_lists, ["query_id", "lst"]
            )
            results[f"coarse_iters{iters}_routing_recall"] = round(
                hit.count() / truth.count(), 2
            )
        print(
            f"[probe] coarse refine: balance "
            f"{results['coarse_iters0_max_over_mean_list']} -> "
            f"{results['coarse_iters2_max_over_mean_list']}, recall "
            f"{results['coarse_iters0_routing_recall']} -> "
            f"{results['coarse_iters2_routing_recall']}",
            file=sys.stderr, flush=True,
        )

        # Optional 1M-vector AnnIndexStore row (pass --ann-1m): build +
        # 10-query probe at 10x the standard probe's index size.
    if "--ann-1m" in sys.argv:
        big_dir = _tempfile.mkdtemp(prefix="scale_probe_ann1m_")
        try:
            n_big = 1_000_000
            big = spark.range(n_big).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda d: (
                        F.pmod(F.xxhash64(F.col("id"), d), F.lit(2001)) - 1000
                    ).cast("double")
                    / 1000.0,
                ).alias("embedding"),
            )
            bidx = AnnIndexStore(big_dir)
            t0 = time.perf_counter()
            bidx.build(big, n_centroids=64)
            results["ann_store_build_1m"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            bidx.compact(spark)
            results["ann_store_compact_1m"] = round(
                time.perf_counter() - t0, 2
            )
            q10 = big.filter(F.col("vec_id") < 10).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            t0 = time.perf_counter()
            bidx.topk(q10, k=5, n_probe=8).write.format("noop").mode(
                "overwrite"
            ).save()
            results["ann_store_query_10_of_1m"] = round(
                time.perf_counter() - t0, 2
            )
        finally:
            _shutil.rmtree(big_dir, ignore_errors=True)
        print(
            f"[probe] ann_store 1m build/compact/query: "
            f"{results['ann_store_build_1m']}/"
            f"{results['ann_store_compact_1m']}/"
            f"{results['ann_store_query_10_of_1m']}s",
            file=sys.stderr, flush=True,
        )

    if "--hot-route" in sys.argv:
        # r6: the auto hot-bucket router at band-row scale. Two
        # questions a 100 TB reviewer asks of a new default: what does
        # the routing window (count + approx_count_distinct over the
        # bucket keys) cost on a frame DOMINATED by cold buckets, and
        # does per-bucket routing actually produce the star output on
        # the boilerplate bucket and the subshard output on the diverse
        # one when both live in the same frame?
        from cassandra_iot_pipeline_spark.functions.dedup import (
            _capped_bucket_pairs,
        )

        n_band_rows = 4_000_000
        cold = spark.range(n_band_rows).select(
            F.col("id").alias("doc_id"),
            F.lit(0).alias("band"),
            # population 8 per bucket — the fixture-like cold regime
            (F.col("id") % (n_band_rows // 8)).alias("bucket"),
            F.xxhash64(F.col("id")).alias("salt"),
        )
        hot = spark.range(n_band_rows, n_band_rows + 40_000).select(
            F.col("id").alias("doc_id"),
            F.lit(1).alias("band"),
            (F.col("id") % 2).cast("long").alias("bucket"),  # 2x 20k-row hot
            F.when(F.col("id") % 2 == 0, F.xxhash64(F.col("id")))
            .otherwise(F.lit(99))
            .cast("long")
            .alias("salt"),  # bucket 0 diverse, bucket 1 boilerplate
        )
        banded = cold.unionByName(hot).localCheckpoint(eager=True)
        counts: dict[str, dict[str, int]] = {}
        for mode in ("star", "subshard", "auto"):
            pairs = _capped_bucket_pairs(
                banded, ("band", "bucket"), 256, hot_bucket_mode=mode
            )
            t0 = time.perf_counter()
            pairs.write.format("noop").mode("overwrite").save()
            results[f"hot_route_{mode}"] = round(time.perf_counter() - t0, 2)
            is_hot = F.col("doc_a") >= n_band_rows
            diverse = is_hot & (F.col("doc_a") % 2 == 0)
            boiler = is_hot & (F.col("doc_a") % 2 == 1)
            row = pairs.agg(
                F.count(F.when(~is_hot, 1)).alias("cold"),
                F.count(F.when(diverse, 1)).alias("diverse"),
                F.count(F.when(boiler, 1)).alias("boiler"),
            ).first()
            counts[mode] = {k: row[k] for k in ("cold", "diverse", "boiler")}
            print(
                f"[probe] hot_route {mode}: {results[f'hot_route_{mode}']}s "
                f"{counts[mode]}",
                file=sys.stderr, flush=True,
            )
        # per-bucket routing contract: cold pairs identical everywhere;
        # auto == star on the boilerplate bucket, == subshard on the
        # diverse one
        assert counts["star"]["cold"] == counts["auto"]["cold"]
        assert counts["auto"]["boiler"] == counts["star"]["boiler"]
        assert counts["auto"]["diverse"] == counts["subshard"]["diverse"]
        assert counts["auto"]["diverse"] > counts["star"]["diverse"]
        results["hot_route_counts"] = counts  # type: ignore[assignment]

    if "--substrings" in sys.argv:
        # r6: substring dedup tiers at 10x fixture scale. The claim
        # under test: the hashed tier moves 8 bytes/gram through the
        # wide stages instead of ~k, and both tiers mark the same
        # spans when grams stay collision-free.
        from cassandra_iot_pipeline_spark.functions.substrings import (
            duplicated_spans,
        )

        # plant a real boilerplate run on 10% of docs — the random
        # shared-vocabulary corpus has no exact 40-char repeats of its
        # own, and an operator probe that marks nothing measures only
        # the happy path
        boiler = (
            " subscribe to our newsletter all rights reserved terms of"
            " service privacy policy"
        )
        sdocs = (
            probe_documents(spark, 20_000)
            .withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 10 == 0,
                    F.concat(F.col("text"), F.lit(boiler)),
                ).otherwise(F.col("text")),
            )
            .localCheckpoint(eager=True)
        )
        timed(
            "substring_spans_exact",
            duplicated_spans(sdocs, k=40),
            results,
        )
        timed(
            "substring_spans_hashed",
            duplicated_spans(sdocs, k=40, hash_shuffle=True),
            results,
        )
        n_ex = duplicated_spans(sdocs, k=40).count()
        n_h = duplicated_spans(sdocs, k=40, hash_shuffle=True).count()
        assert n_ex == n_h, (n_ex, n_h)
        results["substring_spans_rows"] = n_ex
        print(
            f"[probe] substring spans: {n_ex} rows, exact "
            f"{results['substring_spans_exact']}s vs hashed "
            f"{results['substring_spans_hashed']}s",
            file=sys.stderr, flush=True,
        )

        # r7 de-skew A/B, isolating the hot-KEY claim: each doc is a
        # unique ~8-char prefix + the same 2000-char constant run, so
        # ONE distinct gram carries ~23.5M of the ~23.6M position
        # rows and the dup-gram set is a single row (no broadcast-size
        # confound — that axis is measured separately below). The
        # legacy window plan (dup_join='window', pre-r7 default) lands
        # all 23.5M in a single task's Sort+Window; the r7 default
        # collapses them map-side in a partial HashAggregate and
        # broadcast-semi-joins the one-gram set back. Same spans.
        hot = (
            spark.range(12_000)
            .select(
                F.col("id").alias("doc_id"),
                F.concat(
                    F.lit("u"), F.col("id"), F.lit(" "), F.lit("x" * 2_000)
                ).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        hot_counts = {}
        for mode in ("window", "auto"):
            timed(
                f"substring_hotgram_{mode}",
                duplicated_spans(hot, k=40, dup_join=mode),
                results,
            )
            hot_counts[mode] = duplicated_spans(
                hot, k=40, dup_join=mode
            ).count()
        assert hot_counts["window"] == hot_counts["auto"], hot_counts
        # hashed tier under the same skew — the de-skew must hold when
        # the gram is an 8-byte hash too (same hot key, narrower rows)
        timed(
            "substring_hotgram_auto_hashed",
            duplicated_spans(hot, k=40, hash_shuffle=True),
            results,
        )
        results["substring_hotgram_rows"] = hot_counts["auto"]
        print(
            f"[probe] substring hot-gram: {hot_counts['auto']} spans, "
            f"window {results['substring_hotgram_window']}s vs auto "
            f"{results['substring_hotgram_auto']}s vs auto+hash "
            f"{results['substring_hotgram_auto_hashed']}s",
            file=sys.stderr, flush=True,
        )

        # the other axis: a DIVERSE duplicated-gram set (the r6 10%
        # shared-vocab corpus above has millions of distinct repeated
        # 40-char grams). There the exact tier's dup-gram build side
        # is large — the hashed tier shrinks it 5x (8-byte keys), and
        # is the prescribed 100 TB posture for such corpora; record
        # the exact window-vs-auto pair on that corpus too so the
        # trade is measured, not asserted.
        for mode in ("window", "auto"):
            timed(
                f"substring_vocab_{mode}",
                duplicated_spans(sdocs, k=40, dup_join=mode),
                results,
            )
        timed(
            "substring_vocab_auto_hashed",
            duplicated_spans(sdocs, k=40, hash_shuffle=True),
            results,
        )

    if "--substring-stream" in sys.argv:
        # r7: the continuous substring pipeline's per-epoch cost must
        # track the BATCH, not the accumulated gram store — the store
        # side of the count merge is semi-join-pruned to the batch's
        # own gram set before any exchange. 10 epochs of 2k docs (10%
        # boilerplate) against a store that grows by ~1M distinct
        # grams per epoch: flat-ish per-epoch times = the prune works.
        import shutil as _sh

        from cassandra_iot_pipeline_spark.streaming.substrings import (
            SubstringDedupPipeline,
        )

        boiler2 = (
            " subscribe to our newsletter all rights reserved terms of"
            " service privacy policy"
        )
        ss_dir = _tempfile.mkdtemp(prefix="scale_probe_substream_")
        try:
            # untimed warm-up pipeline (plan-shape JIT, store-dir setup)
            warm_pipe = SubstringDedupPipeline(f"{ss_dir}/warm", k=40)
            warm_pipe.write_batch(
                probe_documents(spark, 500).localCheckpoint(eager=True), 0
            )
            pipe = SubstringDedupPipeline(
                f"{ss_dir}/store", k=40, compact_every=4
            )
            ss_times = []
            for e in range(10):
                batch = (
                    probe_documents(spark, 2_000, start=e * 2_000)
                    .withColumn(
                        "text",
                        F.when(
                            F.col("doc_id") % 10 == 0,
                            F.concat(F.col("text"), F.lit(boiler2)),
                        ).otherwise(F.col("text")),
                    )
                    .localCheckpoint(eager=True)
                )
                t0 = time.perf_counter()
                pipe.write_batch(batch, epoch_id=e)
                ss_times.append(round(time.perf_counter() - t0, 2))
            results["substring_stream_epoch_secs"] = ss_times  # type: ignore[assignment]
            results["substring_stream_store_grams"] = pipe.gram_counts(
                spark
            ).count()
            print(
                f"[probe] substring_stream 10x2k epochs: {ss_times} "
                f"({results['substring_stream_store_grams']} stored "
                "grams)",
                file=sys.stderr, flush=True,
            )
        finally:
            _sh.rmtree(ss_dir, ignore_errors=True)

    if "--substring-approx" in sys.argv:
        # r8 (r7 verdict #7): the substring gram-store's 100 TB floor.
        # Exact mode stores 8 B per corpus-lifetime DISTINCT gram
        # (unbounded); approx mode stores a FIXED depth x width
        # Count-Min sketch with a one-sided over-marking contract.
        # Run the same 10x2k-doc replay through both and compare
        # store bytes + cut-text agreement.
        import os as _os
        import shutil as _sh3

        from cassandra_iot_pipeline_spark.streaming.substrings import (
            SubstringDedupPipeline,
        )

        def _du(path):
            total = 0
            for root, _, files in _os.walk(path):
                for f in files:
                    total += _os.path.getsize(_os.path.join(root, f))
            return total

        boiler3 = (
            " subscribe to our newsletter all rights reserved terms"
            " of service privacy policy"
        )
        sa_dir = _tempfile.mkdtemp(prefix="scale_probe_subapprox_")
        try:
            # min_count=50: the approx tier's sound regime is
            # heavy-hitter thresholds (min_count >> gram mass/width —
            # the sizing rule in streaming/substrings.py). The r8
            # first probe ran min_count=2 and measured the documented
            # failure mode: collision mass ~10 per bucket >= the
            # threshold, so 18,000/20,000 docs over-marked (SCALE.md).
            mc = 50
            pipes = {
                "exact": SubstringDedupPipeline(
                    f"{sa_dir}/exact", k=40, min_count=mc,
                    compact_every=4,
                ),
                "approx": SubstringDedupPipeline(
                    f"{sa_dir}/approx", k=40, min_count=mc,
                    compact_every=4,
                    counts="approx", cm_width=1 << 21, cm_depth=4,
                ),
            }
            sa_times: dict[str, list[float]] = {m: [] for m in pipes}
            for e in range(10):
                batch = (
                    probe_documents(spark, 2_000, start=e * 2_000)
                    .withColumn(
                        "text",
                        F.when(
                            F.col("doc_id") % 10 == 0,
                            F.concat(F.col("text"), F.lit(boiler3)),
                        ).otherwise(F.col("text")),
                    )
                    .localCheckpoint(eager=True)
                )
                for m, pipe in pipes.items():
                    t0 = time.perf_counter()
                    pipe.write_batch(batch, epoch_id=e)
                    sa_times[m].append(round(time.perf_counter() - t0, 2))
            for m, pipe in pipes.items():
                pipe.compact(spark)
                results[f"subapprox_{m}_store_bytes"] = _du(pipe.grams_dir)
                results[f"subapprox_{m}_epoch_secs"] = sa_times[m]  # type: ignore[assignment]
            # agreement: docs whose cut text differs (over-marking only)
            ex = pipes["exact"].curated(spark).select("doc_id", "text")
            ap = (
                pipes["approx"].curated(spark)
                .select("doc_id", F.col("text").alias("text_a"))
            )
            both = ex.join(ap, "doc_id")
            results["subapprox_docs"] = both.count()
            results["subapprox_docs_differing"] = both.filter(
                F.col("text") != F.col("text_a")
            ).count()
            print(
                f"[probe] substring approx vs exact: store bytes "
                f"{results['subapprox_approx_store_bytes']} vs "
                f"{results['subapprox_exact_store_bytes']}, "
                f"{results['subapprox_docs_differing']}/"
                f"{results['subapprox_docs']} docs differ",
                file=sys.stderr, flush=True,
            )
        finally:
            _sh3.rmtree(sa_dir, ignore_errors=True)

    if "--dedup-batch" in sys.argv:
        # r6 verdict item #5: the r6 ADC-payload fix removed what r5
        # called "the binding constraint on raising dedup batch
        # sizes". Probe the claim: B = 2k / 10k / 20k epochs through
        # the FULL EmbeddingDedupPipeline write path against a 100k
        # int8 index, recording per-epoch wall time, vecs/s, and the
        # driver-collected + broadcast ADC payload (B tables of
        # m x ks x 8 bytes, shipped once, plus B x n_probe 16-byte id
        # pairs — deterministic from the geometry: m=8, ks=16,
        # n_probe=4).
        from cassandra_iot_pipeline_spark.streaming.ann import (
            EmbeddingDedupPipeline,
        )

        bdir = _tempfile.mkdtemp(prefix="scale_probe_bsz_")
        try:
            warm = EmbeddingDedupPipeline.bootstrap(
                probe_embeddings(0, 3_000),
                f"{bdir}/warm_idx",
                f"{bdir}/warm_cur",
                threshold=0.95,
            )
            warm.write_batch(probe_embeddings(3_000, 3_500), epoch_id=0)
            for bsz in (2_000, 10_000, 20_000):
                pipe = EmbeddingDedupPipeline.bootstrap(
                    probe_embeddings(0, n_vecs),
                    f"{bdir}/idx{bsz}",
                    f"{bdir}/cur{bsz}",
                    threshold=0.95,
                )
                b_times = []
                for e in range(2):
                    lo = n_vecs + e * bsz
                    b = probe_embeddings(lo, lo + bsz)
                    t0 = time.perf_counter()
                    pipe.write_batch(b, epoch_id=e)
                    b_times.append(round(time.perf_counter() - t0, 2))
                results[f"dedup_batch_{bsz}_epoch_secs"] = b_times  # type: ignore[assignment]
                results[f"dedup_batch_{bsz}_vecs_per_sec"] = round(
                    bsz / min(b_times), 1
                )
                results[f"dedup_batch_{bsz}_adc_payload_mb"] = round(
                    bsz * (8 * 16 * 8 + 4 * 16) / 1e6, 2
                )
                print(
                    f"[probe] dedup_batch B={bsz}: {b_times}s, "
                    f"{results[f'dedup_batch_{bsz}_vecs_per_sec']} vecs/s, "
                    f"payload {results[f'dedup_batch_{bsz}_adc_payload_mb']}"
                    " MB",
                    file=sys.stderr, flush=True,
                )
        finally:
            _shutil.rmtree(bdir, ignore_errors=True)

    if "--gapfill" in sys.argv:
        # r6: gapfill max_gap at the pathological shape it exists for —
        # 10k keys, 10 observations each, ~6 months of silence between
        # them. Uncapped, every observation fan-outs its whole gap run
        # (~4.38k hourly rows); max_gap=24 bounds each run to a day.
        from cassandra_iot_pipeline_spark.operators.gapfill import gapfill

        gap_hours = 4_380
        obs = spark.range(10_000 * 10).select(
            (F.col("id") % 10_000).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1_700_000_000)
                + (F.col("id") / 10_000).cast("long")
                * F.lit(gap_hours * 3600)
            ).alias("ts"),
            (F.pmod(F.col("id"), F.lit(997)) / 10.0).alias("value"),
        )
        t0 = time.perf_counter()
        capped = gapfill(obs, max_gap=24)
        n_capped = capped.count()
        results["gapfill_capped_24_sec"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        n_full = gapfill(obs).count()
        results["gapfill_uncapped_sec"] = round(time.perf_counter() - t0, 2)
        results["gapfill_rows_capped"] = n_capped
        results["gapfill_rows_uncapped"] = n_full
        print(
            f"[probe] gapfill: uncapped {n_full} rows "
            f"{results['gapfill_uncapped_sec']}s, max_gap=24 {n_capped} "
            f"rows {results['gapfill_capped_24_sec']}s",
            file=sys.stderr, flush=True,
        )

    if "--funnel" in sys.argv:
        # r8: the engagement-analytics family at probe scale.
        # The funnels run over the full synthetic event stream
        # (the wide work is the one user-keyed exchange).
        from cassandra_iot_pipeline_spark.operators.funnel import funnel

        timed(
            "funnel_4step_horizon7d",
            funnel(
                events,
                ["signup", "view", "click", "purchase"],
                horizon_seconds=7 * 86_400,
            ),
            results,
        )
        # r9 (r8 verdict #5): the hot-key bound. funnel's per-user fold
        # materializes each key's full step-typed event list in one
        # aggregation buffer — a bot key owning ~20% of the corpus puts
        # ~20% of step events into ONE task's collect_list. Measure a
        # skewed corpus (key 0 absorbs 1-in-5 events) against the
        # uniform row above; the delta is the single-task sort+fold.
        skewed = events.withColumn(
            "user_id",
            F.when(
                F.pmod(
                    F.xxhash64(F.lit("skew"), F.col("event_id")), F.lit(5)
                )
                == 0,
                F.lit(0),
            ).otherwise(F.col("user_id")),
        )
        timed(
            "funnel_4step_skewed_hotkey_20pct",
            funnel(
                skewed,
                ["signup", "view", "click", "purchase"],
                horizon_seconds=7 * 86_400,
            ),
            results,
        )
        # r10 (r9 verdict #4): the executable mitigation. Cap the
        # skewed corpus with the curation rule first (keep-earliest-N
        # per (key, type), salted so even the bot key's own sort is
        # split) — the claim under test is that the capped skewed
        # corpus runs at ~the uniform corpus's speed (the +14% skew
        # delta eliminated). The cap (10k/type) is far above any sane
        # key's volume (~400 events/type here), so only the bot key
        # loses rows.
        from cassandra_iot_pipeline_spark.functions.cleaning import (
            cap_events_per_key,
        )

        capped = cap_events_per_key(skewed, 10_000, salt_partitions=32)
        timed(
            "funnel_4step_skewed_capped_10k",
            funnel(
                capped,
                ["signup", "view", "click", "purchase"],
                horizon_seconds=7 * 86_400,
            ),
            results,
        )
        # a PATHOLOGICAL bot key (1-in-2 of the corpus on one key —
        # one task sorts ~10M step events): the regime the cap is FOR
        skewed50 = events.withColumn(
            "user_id",
            F.when(
                F.pmod(
                    F.xxhash64(F.lit("skew"), F.col("event_id")), F.lit(2)
                )
                == 0,
                F.lit(0),
            ).otherwise(F.col("user_id")),
        )
        timed(
            "funnel_4step_skewed_hotkey_50pct",
            funnel(
                skewed50,
                ["signup", "view", "click", "purchase"],
                horizon_seconds=7 * 86_400,
            ),
            results,
        )
        timed(
            "funnel_4step_skewed50_capped_10k",
            funnel(
                cap_events_per_key(skewed50, 10_000, salt_partitions=32),
                ["signup", "view", "click", "purchase"],
                horizon_seconds=7 * 86_400,
            ),
            results,
        )

    if "--lines" in sys.argv:
        # r9: the C4 line-dedup rule over a multi-line corpus
        # (probe_documents is single-line; break ~25% of word gaps into
        # newlines and plant a boilerplate footer on 10% of docs).
        import tempfile

        from cassandra_iot_pipeline_spark.functions.cleaning import (
            dedup_lines,
        )

        ldocs_dir = tempfile.mkdtemp(prefix="probe_lines_")
        boiler = (
            "subscribe to our newsletter all rights reserved terms"
        )
        (
            probe_documents(spark, 100_000)
            .withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 10 == 0,
                    F.concat(F.col("text"), F.lit("\n" + boiler)),
                ).otherwise(F.col("text")),
            )
            .withColumn(
                "text",
                F.regexp_replace(
                    "text", " (word\\d*1) ", "\n$1\n"
                ),
            )
            .write.mode("overwrite")
            .parquet(ldocs_dir)
        )
        ldocs = spark.read.parquet(ldocs_dir)
        for hs, label in ((False, "exact"), (True, "hashed")):
            timed(
                f"dedup_lines_100k_{label}",
                dedup_lines(ldocs, min_line_chars=10, hash_shuffle=hs),
                results,
            )

    rollup_rows_per_sec = (
        round(n_events / results["hourly_rollup"])
        if "hourly_rollup" in results
        else None
    )
    print(
        json.dumps(
            {
                "n_events": n_events,
                "n_devices": n_devices,
                "timings_sec": results,
                "hourly_rollup_rows_per_sec": rollup_rows_per_sec,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
