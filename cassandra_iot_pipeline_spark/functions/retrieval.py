"""BM25 full-text retrieval — inverted-index construction and top-k
scoring over the documents table (Robertson/Spärck Jones BM25 with
the Lucene ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf; all formulas
public).

Why it belongs in an LLM-data engine: retrieval IS a curation
operator — benchmark decontamination ("find training docs matching an
eval question"), targeted quality audits ("pull everything about X"),
and retrieval-based dedup all reduce to scoring documents against a
small query at corpus scale.

Plan shape: the inverted index is one explode + groupBy(term, doc) —
the classic shuffle-once posting build; scoring a query touches ONLY
the query's own postings (``term IN (...)`` prunes before the
exchange — at scale, persist :func:`postings` partitioned by term and
the scan prunes to q partitions). Per-doc score accumulation is a
``sort_array`` + ``aggregate`` fold — a DETERMINISTIC left-to-right
IEEE sum in term order, mirrored by the oracle's ``SUM(s ORDER BY
term)`` (DuckDB's ordered aggregate folds sequentially; verified
bitwise in tests). Top-k compiles to TakeOrderedAndProject with a
(score DESC, doc_id) total order.

Exactness contract: tf/df/dl/N are exact BIGINTs; avgdl and every
score factor is IEEE double with an op order written identically in
both engines. The ONE transcendental — the idf's ``ln`` — is computed
driver-side with ``math.log`` over the query's q document frequencies
(a q-row bounded collect, the repo's documented bounded-collect
class) and injected as literals: CPython's libm ``log`` is bitwise
equal to DuckDB's ``ln`` (pinned by a 5,000-value test), while the
JVM's ``Math.log`` drifts by 1 ulp on ~some inputs — so Spark never
computes the log.

100 TB: build-once postings (one shuffle over exploded tokens, ~one
row per distinct (term, doc)); per-query work is proportional to the
query terms' posting lists, not the corpus. Queries with a stopword
term degrade to that term's full list — cap with a df ceiling
(max_df_frac) exactly like every practical engine.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_iot_pipeline_spark.functions.text import (
    TOKEN_SPLIT_RE,
    _oracle_tokens,
    tokens,
)

from ..store import MergeableStore


def tokenize_query(query: str) -> list[str]:
    """The same lower/split-non-alnum tokenizer the corpus side uses
    (text.tokens), applied driver-side to the query string; distinct
    terms, sorted for determinism."""
    return sorted({t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t})


def postings(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, tf, dl): the inverted index with per-document
    term frequency and document length (in tokens). One explode + one
    groupBy(term, doc) shuffle; persist partitioned by term for
    per-query partition pruning at scale.

    The token array is MATERIALIZED in its own projection before the
    explode: putting ``explode(tokens(text))`` and ``size(tokens(
    text))`` in one select re-evaluates the tokenizer expression per
    OUTPUT row — measured 119 s vs 4.9 s on a 20k-doc probe slice
    (the same Generate pathology SCALE.md records for shingling;
    lesson of functions/cleaning.py::_shingle_hash_rows)."""
    tok_df = documents.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    return (
        tok_df.select(
            "doc_id", F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def postings_oracle(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    toks = _oracle_tokens(text_col)
    return f"""
        SELECT term, doc_id, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
        FROM (
            SELECT {id_col} AS doc_id, len(tk) AS dl, t.term AS term
            FROM (SELECT {id_col}, {toks} AS tk FROM {table}),
                 unnest(tk) AS t(term)
        )
        GROUP BY term, doc_id
    """


def corpus_stats(
    documents: DataFrame, text_col: str = "text"
) -> tuple[int, int]:
    """(n_docs, total_tokens) — exact BIGINTs, one aggregation."""
    row = documents.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("total"),
    ).collect()[0]
    return int(row["n"]), int(row["total"])


def bm25_topk(
    documents: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score): the k highest-BM25 documents for ``query``,
    deterministic total order (score DESC, doc_id ASC). Builds the
    postings inline; at scale persist :func:`postings` once and score
    many queries against it."""
    terms = tokenize_query(query)
    if not terms:
        raise ValueError(f"query tokenizes to nothing: {query!r}")
    n_docs, total = corpus_stats(documents, text_col)
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = total / n_docs  # one exact-int division, both engines

    p = postings(documents, id_col, text_col).filter(
        F.col("term").isin(terms)
    )
    return _score_topk(p, terms, n_docs, avgdl, k, k1, b, id_col)


def _idf(n_docs: int, df_t: int) -> float:
    """Lucene BM25 idf, computed with CPython's libm log (bitwise
    equal to DuckDB ln — pinned in tests; the JVM's Math.log is not)."""
    return math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))


def _score_topk(
    p: DataFrame,
    terms: list[str],
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Score a (term, doc_id, tf, dl) posting slice already filtered
    to the query terms; shared by the inline and persisted-store
    paths. The per-term df collect is q-row bounded."""
    dfs = {
        r["term"]: int(r["df"])
        for r in p.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()  # q rows — bounded by the query's term count
    }
    idf_items: list = []
    for t in terms:
        df_t = dfs.get(t, 0)
        if df_t == 0:
            continue  # term absent from the corpus contributes nothing
        idf_items.extend([F.lit(t), F.lit(_idf(n_docs, df_t))])
    if not idf_items:
        # no query term occurs anywhere: empty result, stable schema
        return p.sparkSession.createDataFrame(
            [], f"{id_col} BIGINT, score DOUBLE"
        )
    idf_map = F.create_map(*idf_items)

    # per-(doc, term) partial score; op order mirrored in the oracle
    w = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    )
    s = F.element_at(idf_map, F.col("term"))
    scored = (
        p.select("doc_id", "term", (s * w).alias("s"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "s"))).alias("ts"))
        .select(
            F.col("doc_id").alias(id_col),
            F.expr(
                "aggregate(ts, CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.s)"
            ).alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def bm25_batch(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """(query_id, doc_id, score, rank): top-k BM25 docs for EVERY
    query in ``queries`` in one distributed pass — the shape
    decontamination needs (thousands of eval questions against the
    whole corpus), where per-query :func:`bm25_topk` calls would mean
    per-query jobs.

    Plan: query terms explode Spark-side with the corpus tokenizer
    and BROADCAST-join onto the postings (the posting side never
    reshuffles for routing); idf is computed driver-side over the
    query VOCABULARY's document frequencies — a collect bounded by
    the query set's distinct terms, not the corpus — and joins back
    as a broadcast frame (a map literal would blow up the expression
    tree at eval-benchmark vocabulary sizes). Scores fold in sorted
    term order per (query, doc); ranking is one window per query's
    candidate set."""
    n_docs, total = corpus_stats(documents, text_col)
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = total / n_docs
    spark = documents.sparkSession

    q_terms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    p = postings(documents, id_col, text_col)
    # corpus df per term, restricted to the query vocabulary
    vocab = q_terms.select("term").distinct()
    dfs = (
        p.join(F.broadcast(vocab), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()  # bounded by the query set's distinct terms
    )
    idf_rows = [(r["term"], _idf(n_docs, int(r["df"]))) for r in dfs]
    if not idf_rows:
        return spark.createDataFrame(
            [], f"query_id BIGINT, {id_col} BIGINT, score DOUBLE,"
                f" rank INT"
        )
    idf_frame = spark.createDataFrame(idf_rows, "term STRING, idf DOUBLE")

    w = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)
    )
    cand = (
        p.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(idf_frame), "term")
        .select(
            "query_id", "doc_id", "term", (F.col("idf") * w).alias("s")
        )
    )
    from pyspark.sql import Window

    scored = (
        cand.groupBy("query_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "s"))).alias("ts"))
        .select(
            "query_id",
            F.col("doc_id").alias(id_col),
            F.expr(
                "aggregate(ts, CAST(0.0 AS DOUBLE), (acc, e) -> acc + e.s)"
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )


def bm25_batch_oracle(
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    queries_table: str = "queries",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> str:
    """DuckDB twin of :func:`bm25_batch` (``queries_table`` must be
    registered as a view over the same query frame)."""
    toks = _oracle_tokens(text_col)
    qtoks = _oracle_tokens(query_text_col)
    d = lambda x: f"CAST({x!r} AS DOUBLE)"  # noqa: E731
    k1p1, k1d, bd = d(k1 + 1.0), d(k1), d(b)
    one, half = d(1.0), d(0.5)
    return f"""
        WITH toks AS (
            SELECT {id_col} AS doc_id, {toks} AS tk FROM {table}
        ),
        stats AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl
            FROM toks
        ),
        qt AS (
            SELECT DISTINCT {query_id_col} AS query_id, t.term AS term
            FROM (SELECT {query_id_col}, {qtoks} AS tk
                  FROM {queries_table}),
                 unnest(tk) AS t(term)
        ),
        p AS (
            SELECT term, doc_id, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
            FROM (
                SELECT doc_id, len(tk) AS dl, t.term AS term
                FROM toks, unnest(tk) AS t(term)
                WHERE t.term IN (SELECT term FROM qt)
            )
            GROUP BY term, doc_id
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
        scored AS (
            SELECT qt.query_id, p.doc_id,
                   SUM(
                       ln({one} + ((SELECT n FROM stats) - df + {half})
                                / (df + {half}))
                       * ((tf * {k1p1})
                          / (tf + {k1d} * ({one} - {bd}
                             + {bd} * dl / (SELECT avgdl FROM stats))))
                       ORDER BY p.term
                   ) AS score
            FROM p
            JOIN qt ON p.term = qt.term
            JOIN dfreq ON p.term = dfreq.term
            GROUP BY qt.query_id, p.doc_id
        )
        SELECT query_id, doc_id AS {id_col}, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY score DESC, doc_id
               ) AS INT) AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def retrieval_decontaminate(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 10,
    min_score: float = 0.0,
    **kwargs,
) -> DataFrame:
    """(doc_id, best_query_id, best_score): training documents a
    benchmark query retrieves at rank <= k with score >= min_score —
    the retrieval-based complement of the n-gram
    ``contamination_overlap`` (functions/cleaning.py): n-gram overlap
    catches verbatim inclusions, retrieval catches paraphrased or
    partially-quoted ones. Ties on best_score resolve to the smallest
    query_id (deterministic)."""
    id_col = kwargs.get("id_col", "doc_id")
    hits = bm25_batch(documents, queries, k=k, **kwargs).filter(
        F.col("score") >= min_score
    )
    from pyspark.sql import Window

    w_doc = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("query_id")
    )
    return (
        hits.withColumn("_r", F.row_number().over(w_doc))
        .filter(F.col("_r") == 1)
        .select(
            id_col,
            F.col("query_id").alias("best_query_id"),
            F.col("score").alias("best_score"),
        )
    )


def retrieval_decontaminate_oracle(
    k: int = 10,
    min_score: float = 0.0,
    **kwargs,
) -> str:
    id_col = kwargs.get("id_col", "doc_id")
    inner = bm25_batch_oracle(k=k, **kwargs)
    return f"""
        WITH hits AS ({inner})
        SELECT {id_col},
               query_id AS best_query_id,
               score AS best_score
        FROM hits
        WHERE score >= CAST({min_score!r} AS DOUBLE)
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY {id_col} ORDER BY score DESC, query_id
        ) = 1
    """


def bm25_oracle(
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`bm25_topk`: identical tokenizer, idf via
    DuckDB ``ln`` (bitwise equal to the driver-side ``math.log``),
    identical factor order, ordered SUM for the same left-to-right
    fold, same (score DESC, id) top-k."""
    terms = tokenize_query(query)
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = _oracle_tokens(text_col)
    # DuckDB types bare decimal literals as DECIMAL, not DOUBLE — the
    # exact-decimal arithmetic then rounds differently from IEEE.
    # Every constant is therefore cast explicitly.
    d = lambda x: f"CAST({x!r} AS DOUBLE)"  # noqa: E731
    k1p1, k1d, bd = d(k1 + 1.0), d(k1), d(b)
    one, half = d(1.0), d(0.5)
    return f"""
        WITH toks AS (
            SELECT {id_col} AS doc_id, {toks} AS tk FROM {table}
        ),
        stats AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(len(tk)) AS DOUBLE) / COUNT(*) AS avgdl
            FROM toks
        ),
        p AS (
            SELECT term, doc_id, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
            FROM (
                SELECT doc_id, len(tk) AS dl, t.term AS term
                FROM toks, unnest(tk) AS t(term)
                WHERE t.term IN ({in_list})
            )
            GROUP BY term, doc_id
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
        scored AS (
            SELECT doc_id,
                   SUM(
                       ln({one} + ((SELECT n FROM stats) - df + {half})
                                / (df + {half}))
                       * ((tf * {k1p1})
                          / (tf + {k1d} * ({one} - {bd}
                             + {bd} * dl / (SELECT avgdl FROM stats))))
                       ORDER BY term
                   ) AS score
            FROM p JOIN dfreq USING (term)
            GROUP BY doc_id
        )
        SELECT doc_id AS {id_col}, score
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT {k}
    """


class PostingsStore(MergeableStore):
    """Persisted, continuously-ingestible inverted index — the
    build-once/query-many form of :func:`postings`, with the repo's
    shared delta+base store lifecycle (store.py; the AnnIndexStore
    pattern for text).

    Layout:

    - ``<dir>/postings/epoch=N/``        each batch's own postings
    - ``<dir>/postings/base_upto=K/grp=G/`` compacted base partitioned
      by ``grp = pmod(xxhash64(term), n_groups)`` — a query prunes the
      base scan to its own q term-groups (dynamic partition pruning,
      the ``lst=`` discipline)
    - ``<dir>/stats/epoch=N/``           one (n_docs, total_tokens)
      row per batch; corpus stats are the SUM over rows, so stats
      merge associatively and replays overwrite their own epoch

    Correctness contract: doc_ids are unique across batches (documents
    are immutable facts; re-ingesting a doc id is a replay, which
    rewrites identical content). Queries against the store are
    bit-identical to :func:`bm25_topk` over the concatenated corpus —
    pinned in tests — because postings/df/stats are all exact integers
    whose union is order-free, and the score math is shared.

    100 TB: per-epoch work is the batch's own explode + groupBy; the
    store is never read in the write path. Query cost is the q posting
    lists (partition-pruned after compaction) + a q-row df collect.
    """

    N_GROUPS = 64

    def __init__(
        self,
        base_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_groups: int = N_GROUPS,
        compact_every: int | None = None,
    ) -> None:
        super().__init__(
            f"{base_dir}/postings",
            "term STRING, doc_id BIGINT, tf BIGINT, dl INT, grp INT",
            compact_every,
            fold=_distinct,
            partition_by="grp",
        )
        self.base_dir = base_dir
        self.id_col = id_col
        self.text_col = text_col
        self.n_groups = n_groups
        self.postings_dir = self.path
        self.stats_dir = f"{base_dir}/stats"
        self.stats_store = MergeableStore(
            self.stats_dir,
            "epoch BIGINT, n_docs BIGINT, total_tokens BIGINT",
            fold=_distinct,
        )

    # -- reads ----------------------------------------------------------
    def postings_frame(self, spark: SparkSession) -> DataFrame:
        return self.read(spark)

    def stats(self, spark: SparkSession) -> tuple[int, int]:
        row = (
            self.stats_store.read(spark)
            .agg(
                F.sum("n_docs").alias("n"),
                F.sum("total_tokens").alias("total"),
            )
            .collect()[0]
        )
        return int(row["n"] or 0), int(row["total"] or 0)

    def bm25_topk(
        self,
        spark: SparkSession,
        query: str,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Bit-identical to :func:`bm25_topk` over every ingested
        document (pinned in tests). The grp filter prunes the
        compacted base to the query's own term-groups."""
        terms = tokenize_query(query)
        if not terms:
            raise ValueError(f"query tokenizes to nothing: {query!r}")
        n_docs, total = self.stats(spark)
        if n_docs == 0:
            raise ValueError("empty postings store")
        avgdl = total / n_docs
        grps = sorted(
            {
                r["g"]
                for r in spark.createDataFrame(
                    [(t,) for t in terms], "term STRING"
                )
                .select(
                    F.pmod(
                        F.xxhash64("term"), F.lit(self.n_groups)
                    ).cast("int").alias("g")
                )
                .collect()
            }
        )
        p = (
            self.postings_frame(spark)
            .filter(F.col("grp").isin(grps))
            .filter(F.col("term").isin(terms))
        )
        return _score_topk(p, terms, n_docs, avgdl, k, k1, b, self.id_col)

    # -- write path (foreachBatch) ---------------------------------------
    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.write(
            postings(batch_df, self.id_col, self.text_col).select(
                "term",
                "doc_id",
                "tf",
                F.col("dl").cast("int").alias("dl"),
                F.pmod(F.xxhash64("term"), F.lit(self.n_groups))
                .cast("int")
                .alias("grp"),
            ),
            epoch_id,
        )
        n, total = corpus_stats(batch_df, self.text_col)
        self.stats_store.write(
            batch_df.sparkSession.createDataFrame(
                [(int(epoch_id), n, total)], self.stats_store.schema
            ),
            epoch_id,
        )

    # -- maintenance ------------------------------------------------------
    def compact_tail(
        self, spark: SparkSession, keep_recent: int = 0
    ) -> int | None:
        """Tail compaction (store.compact_epochs): postings and stats
        are distinct folds — associative, scores unchanged; the
        ``grp``-partitioned base stays byte-untouched."""
        self.stats_store.compact_tail(spark, keep_recent)
        return super().compact_tail(spark, keep_recent)

    def compact(self, spark: SparkSession) -> int | None:
        self.stats_store.compact(spark)
        return super().compact(spark)


def _distinct(df: DataFrame) -> DataFrame:
    return df.distinct()
