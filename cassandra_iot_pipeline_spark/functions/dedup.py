"""Deduplication operators over the ``documents`` table.

Four tiers, trading exactness for scale:

- **exact**: hash-groupBy on the canonical text — one shuffle keyed by
  the canonical form; at 100 TB, group by xxhash64(canonical) first so
  the shuffle key is 8 bytes, then verify within hash buckets.
- **blocked Jaccard**: exact n-gram Jaccard within cheap blocking keys —
  quadratic only inside blocks, fully SQL-expressible (oracle-checked).
- **MinHash + LSH**: shingle -> 64 hash permutations -> banded buckets ->
  candidate pairs -> exact-Jaccard verification. Near-linear: the only
  quadratic work is within LSH buckets. The standard web-scale text
  dedup design (Broder; used by most pretraining pipelines).
- **SimHash**: 64-bit sign-fingerprint; near-dups = small Hamming
  distance. Bit arithmetic in Catalyst expressions.

SimHash uses xxhash64 (no DuckDB twin) so its driver check is
rows-only. MinHash-LSH *does* carry a full oracle despite its xxhash64
signatures: the operator's last stage keeps only candidates whose exact
shingle Jaccard clears the threshold, so whenever LSH recall is 1.0 the
output equals the exhaustive all-pairs Jaccard — which is plain SQL
(``minhash_lsh_pairs_oracle``). On the fixture corpora recall is exactly
1.0 with wide margin (every true pair sits at J >= 0.89, where the 8x8
band miss probability is < 2%, and both corpus and hash family are
deterministic), verified bitwise at sf0.001/sf0.01 in
tests/test_oracle_parity.py and tools/oracle_check.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..parallel import fan_out_scan, shuffle_width
from .text import _oracle_tokens, tokens

SHINGLE_N = 5
N_HASHES = 64
# r=8 rows/band, b=8 bands targets the ~0.8-Jaccard operating point:
# P(candidate) = 1-(1-j^8)^8 is ~0.79 at j=0.8 but only ~3% at j=0.5 —
# important on corpora (like the fixtures) where unrelated documents
# already share ~0.4-0.5 of their shingles.
LSH_BANDS = 8
LSH_ROWS = 8
MERSENNE_P = 2_147_483_647  # 2^31-1, the universal-hash modulus
#: per-(band, bucket) population cap for LSH candidate generation. The
#: in-bucket self-join is exactly quadratic, and on web corpora a
#: boilerplate template shared by k near-identical documents puts all k
#: into ONE bucket in EVERY band (the same near-identical signature) —
#: k in the millions for common headers/footers, i.e. ~bands*k^2/2
#: candidate pairs concentrated on single tasks. Buckets above the cap
#: are *star-routed*: each doc pairs only with the bucket's minimum
#: doc_id (O(k) candidates; cluster connectivity is preserved through
#: the verified hub, which is what downstream connected-components
#: dedup consumes). Fixture bucket populations max out at 8 (sf0.1),
#: so the default never fires on the driver corpora.
LSH_MAX_BUCKET = 256
#: relative standard deviation of the HLL sketch behind the auto
#: hot-bucket router's diversity signal; the router subtracts this
#: margin from its threshold so an estimate landing just under the
#: shard count errs toward subshard (recall) not star (r6 ADVICE)
_ROUTING_HLL_RSD = 0.05


def canonical(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))


# --- exact dedup -------------------------------------------------------------


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per canonical text; report group size.
    One shuffle on the canonical key (at 100 TB: pre-hash the key)."""
    return (
        documents.select("doc_id", canonical(F.col("text")).alias("canon"))
        .groupBy("canon")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def exact_dedup_oracle() -> str:
    return """
        SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS canon
            FROM documents
        )
        GROUP BY canon
    """


# --- blocked exact Jaccard ----------------------------------------------------


#: cutover rule for the exact tier: a (lang, source) block larger than
#: this cap makes the in-block quadratic scan the dominant cost (cap^2
#: comparisons ~ 1e8 at 10k) — beyond it, minhash_lsh_pairs is the
#: correct tier (near-linear, the Broder web-dedup design). The guard
#: fails fast with that instruction instead of silently running an
#: O(block^2) plan at corpus scale.
MAX_JACCARD_BLOCK = 10_000


def hashed_tokens(tok: Column) -> Column:
    """Token array -> int64 xxhash64 array, the Jaccard-verification
    representation: set sizes and intersections are unchanged (xxhash64
    is injective on any realistic per-pair vocabulary — a collision
    needs ~2^32 distinct tokens within one pair's union to become
    likely), while array_intersect over fixed-width longs is ~2x the
    string form on the quadratic pair stage. ONE definition shared by
    both verification sites (exact tier, LSH tier) — the tier
    equivalence contract requires them representation-identical. No
    sort: ArrayIntersect hashes its inputs and ignores order."""
    return F.transform(tok, lambda t: F.xxhash64(t))


def _exact_block_pairs(
    docs: DataFrame, threshold: float, docs_b: DataFrame | None = None
) -> DataFrame:
    """All-pairs exact token Jaccard within (lang, source) blocks over
    pre-tokenized ``docs`` (doc_id, lang, source, tok).

    ``docs_b`` lets the caller put block-size bookkeeping on ONE side
    only: both docs of a pair share a block, so a block-level predicate
    joined onto side *a* alone already constrains every pair — side *b*
    skips the sizes join entirely, halving that subtree's occurrences in
    the self-join plan.

    Tokens are hashed to int64 arrays *at the verification site* (per
    doc, below the join — see :func:`hashed_tokens`): array_intersect
    over fixed-width longs beats string arrays ~2x on the quadratic
    pair stage (measured 7.5 -> 2.2 s at sf0.1)."""

    def _hashed(frame: DataFrame) -> DataFrame:
        return frame.withColumn("n_tok", F.size("tok")).withColumn(
            "tok", hashed_tokens(F.col("tok"))
        )

    docs = _hashed(docs)
    a = docs.alias("a")
    b = (docs if docs_b is None else _hashed(docs_b)).alias("b")
    inter = F.size(F.array_intersect(F.col("a.tok"), F.col("b.tok")))
    # |a ∪ b| = |a| + |b| - |a ∩ b| (sets are distinct) — skips
    # materializing the union array per pair, ~2x on the pair stage
    union = F.size(F.col("a.tok")) + F.size(F.col("b.tok")) - inter
    jac = inter.cast("double") / union
    # Length filter (AllPairs/PPJoin family): jaccard(A,B) >= t implies
    # t*|B| <= |A| and t*|A| <= |B|, so pairs outside the size band can
    # be dropped by two integer comparisons in the join condition —
    # before the O(|A|+|B|) array_intersect ever runs. Exactness-
    # preserving: no surviving pair is affected, so the oracle (which
    # evaluates the threshold directly) is unchanged.
    length_band = (
        F.col("a.n_tok") * F.lit(threshold) <= F.col("b.n_tok")
    ) & (F.col("b.n_tok") * F.lit(threshold) <= F.col("a.n_tok"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & length_band,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def _band_geometry(threshold: float, n_hashes: int = N_HASHES) -> int:
    """Bands for the routed tier, adapted to the caller's threshold: the
    LSH S-curve's knee sits at (1/b)^(1/r); pick the most selective
    geometry whose knee is comfortably below the threshold (<= 0.9*t) so
    pairs AT the threshold are still likely caught. The fixed 8x8 default
    is tuned for the 0.8 operating point and silently loses ~half the
    true pairs at t=0.5 (measured at sf0.1) — the routed tier must not
    inherit that."""
    for b in (8, 16, 32):  # r = n_hashes/b: knees ~0.77, 0.5, 0.18
        r = n_hashes // b
        if (1.0 / b) ** (1.0 / r) <= 0.9 * threshold:
            return b
    return 32


def _lsh_block_pairs(
    docs: DataFrame,
    threshold: float,
    n_hashes: int = N_HASHES,
    bands: int | None = None,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH tier for oversized blocks: candidates from banded
    token-set signatures (block keys in the bucket join so pairs stay
    within their (lang, source) block), then the SAME exact token-Jaccard
    verification as the exact tier. Semantics match the exact tier
    wherever LSH recall is 1.0; near-linear instead of quadratic in the
    block size. Band geometry adapts to the threshold (see
    :func:`_band_geometry`). Mirrors the ``similar_devices`` tier-routing
    pattern (operators/profiles.py)."""
    if bands is None:
        bands = _band_geometry(threshold, n_hashes)
    a_const, b_const = _perm_constants(n_hashes)
    rows_per_band = n_hashes // bands
    # ONE explicit doc_id exchange below every consumer (signature agg,
    # both verification joins): explode preserves the partitioning, so
    # groupBy(doc_id) is partition-local and the join sides' required
    # hash(doc_id) distribution is already satisfied — exchange reuse
    # runs the scan+tokenize+shuffle once per query instead of once per
    # consumer (was 3 full corpus scans). Explicit width (r12): the
    # keyed-only form was AQE-coalescible and folded the signature fold
    # onto one task at small scale.
    base = docs.repartition(shuffle_width(docs), "doc_id")
    exploded = base.select(
        "doc_id",
        "lang",
        "source",
        F.explode("tok").alias("t"),
    ).select(
        "doc_id",
        "lang",
        "source",
        F.xxhash64("t").bitwiseAND(F.lit(0xFFFFFFFF)).alias("h"),
    )
    sig = exploded.groupBy("doc_id").agg(
        # every token row of a doc carries the same block keys
        F.first("lang").alias("lang"),
        F.first("source").alias("source"),
        *[
            F.min(
                F.pmod(
                    F.col("h") * F.lit(a_const[i]) + F.lit(b_const[i]),
                    F.lit(MERSENNE_P),
                )
            ).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    )
    def bucket_of(bd: int) -> Column:
        return F.xxhash64(
            *[
                F.col(f"m{bd * rows_per_band + r}")
                for r in range(rows_per_band)
            ]
        )

    banded = sig.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bd).alias("band"),
                        bucket_of(bd).alias("bucket"),
                        # next band's bucket hash — the secondary
                        # signature the default auto hot-bucket router
                        # shards on (same construction as banded_rows
                        # with_salt=True)
                        bucket_of((bd + 1) % bands).alias("salt"),
                    )
                    for bd in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", "lang", "source",
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
        F.col("bb.salt").alias("salt"),
    )
    # same capped self-join as the global tier — the salt-bearing band
    # rows give hot buckets the default per-bucket auto routing (a
    # boilerplate-dominated block keeps the star plan, a diverse
    # collision sub-shards), block keys included in the bucket identity
    # so pairs stay within their (lang, source) block; the cap is
    # caller-tunable like minhash_lsh_pairs' (None disables)
    candidates = _capped_bucket_pairs(
        banded, ("lang", "source", "band", "bucket"), max_bucket_size
    )
    # same hashed-verification representation as _exact_block_pairs
    # (one shared helper — tier equivalence requires the two sites to
    # stay representation-identical): the signature stage above still
    # hashes the ORIGINAL string tokens, only verification switches.
    toksets = base.select("doc_id", hashed_tokens(F.col("tok")).alias("tok"))
    verified = candidates.join(
        toksets.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("tok_a")),
        "doc_a",
    ).join(
        toksets.select(F.col("doc_id").alias("doc_b"), F.col("tok").alias("tok_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b")))
    union = F.size(F.col("tok_a")) + F.size(F.col("tok_b")) - inter
    jac = inter.cast("double") / union
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(threshold)
    )


def blocked_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    max_block_size: int = MAX_JACCARD_BLOCK,
    strict: bool = False,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Exact token-set Jaccard within (lang, source) blocks — the exact
    tier of the near-dup suite (MinHash-LSH is the scale tier).

    Blocking makes the quadratic candidate set tractable (only documents
    sharing a block are compared); inside a block the comparison is a
    self-join + array_intersect/array_union — all Catalyst, and exactly
    mirrored by the DuckDB oracle. jaccard = |∩| / |∪| is one exact
    integer division (deterministic).

    Auto-tiering: blocks exceeding ``max_block_size`` would make the
    in-block quadratic scan the dominant cost (cap² comparisons), so
    their documents route to the MinHash-LSH tier — same exact-Jaccard
    verification, candidates from banded signatures instead of all
    pairs — and the two tiers' outputs union. At fixture scale no block
    exceeds the cap, so the routed side is empty and results (and the
    DuckDB oracle row) are unchanged. With ``strict=True`` the operator
    instead fails fast in-plan (``raise_error`` on a broadcast
    block-size join) naming the oversized block — for pipelines that
    must not silently accept approximate recall on the routed sliver.

    ``max_bucket_size`` tunes the routed LSH sub-tier's hot-bucket cap
    exactly as in :func:`minhash_lsh_pairs` (``None`` disables it) —
    previously hard-coded, so exact-oracle parity silently depended on
    every (lang, source, band, bucket) population staying under
    :data:`LSH_MAX_BUCKET`; now the assumption is caller-visible and
    stated in the oracle docstring."""
    # fan out the narrow scan first (r12, parallel.fan_out_scan): the
    # quadratic in-block intersect stage runs on side a's partitioning
    # (the b side broadcasts), so a single-split input serialized the
    # whole pair stage onto one task; the projection sits above the
    # repartition, so tokenization parallelizes too
    docs = fan_out_scan(documents, "doc_id").select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(tokens(F.col("text"))).alias("tok"),
    )
    if threshold > 0:
        # Align every tier's inferred scan predicates on the shared base
        # so all of its exchange subtrees canonicalize EQUAL and runtime
        # exchange reuse scans+tokenizes the corpus once (guide §2.1).
        # Without this the exact tier's subtrees carry the join-inferred
        # IsNotNull(lang/source/doc_id) while the routed LSH tier's
        # carry explode-inferred size(tok)>0 — three distinct canonical
        # forms, each executing its own scan+fan-out exchange (measured
        # at sf0.1: three identical 0.91 MB single-task exchange writes
        # per warm run, two of them for the empty routed tier that AQE
        # submits before empty-propagation kills it). Result-identical
        # for threshold > 0: a null-keyed or empty-token document can
        # never produce a pair with jaccard >= threshold (its
        # intersection is empty and comparisons with null keys fail),
        # on either side of either tier.
        # the explicit isnotnull(tok) looks implied by size(tok) > 0,
        # but Catalyst's constraint inference does not derive it for the
        # nested expression — the routed tier's explode would re-infer
        # it on its subtrees alone and split the canonical form again
        docs = docs.filter(
            F.col("lang").isNotNull()
            & F.col("source").isNotNull()
            & F.col("doc_id").isNotNull()
            & (F.size("tok") > 0)
            & F.col("tok").isNotNull()
        )
    if max_block_size is None:
        return _exact_block_pairs(docs, threshold)
    # sizes is a column-pruned (lang, source) scan + tiny agg; joining it
    # onto side a only (see _exact_block_pairs) keeps it out of the
    # b-side subtree — measured ~25% off the whole query at sf0.1
    sizes = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("block_n")
    )
    if strict:
        docs_a = docs.join(F.broadcast(sizes), ["lang", "source"])
        guard = F.when(
            F.col("block_n") > max_block_size,
            F.raise_error(
                F.concat(
                    F.lit("blocked_jaccard_pairs: block (lang="),
                    F.col("lang"),
                    F.lit(", source="),
                    F.col("source"),
                    F.lit(") has "),
                    F.col("block_n").cast("string"),
                    F.lit(
                        f" docs > cap {max_block_size}; the in-block scan is "
                        "quadratic — use minhash_lsh_pairs for this corpus, "
                        "drop strict=True to auto-route oversized blocks, "
                        "or raise max_block_size explicitly"
                    ),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
        # one-sided guard is sufficient: every oversized block's rows are
        # scanned on side a, so the raise fires before any pair forms
        return _exact_block_pairs(
            docs_a.filter(guard).drop("block_n"), threshold, docs_b=docs
        )
    # Routing via inner joins against the FILTERED block-key lists (not a
    # filter over a full sizes join): each tier's broadcast build side is
    # the list of blocks it owns, so when a tier owns nothing AQE's
    # empty-relation propagation replaces the join with an empty relation
    # at runtime and the tier's whole subtree — including its corpus
    # scan, tokenize, and (for LSH) the signature pipeline — never runs.
    # Measured at sf0.1 (no oversized blocks): 6-10 s with the
    # filter-routing form down to ~the strict path's 4.2 s.
    small_keys = sizes.filter(F.col("block_n") <= max_block_size).select(
        "lang", "source"
    )
    big_keys = sizes.filter(F.col("block_n") > max_block_size).select(
        "lang", "source"
    )
    small = docs.join(F.broadcast(small_keys), ["lang", "source"])
    big = docs.join(F.broadcast(big_keys), ["lang", "source"])
    return _exact_block_pairs(small, threshold, docs_b=docs).unionByName(
        _lsh_block_pairs(big, threshold, max_bucket_size=max_bucket_size)
    )


def blocked_jaccard_pairs_oracle(threshold: float = 0.5) -> str:
    """DuckDB twin over STRING token arrays. The Spark side verifies
    over xxhash64-hashed token arrays (:func:`hashed_tokens`), so the
    parity contract is with-high-probability rather than absolute: a
    cross-token xxhash64 collision *within one pair's vocabulary* would
    perturb the Spark intersection but not this oracle. Stated at both
    ends (see hashed_tokens) — the collision needs ~2^32 distinct
    tokens inside a single pair's union to become likely, negligible at
    any realistic document size.

    Parity additionally assumes that when a block routes to the LSH
    sub-tier, no (lang, source, band, bucket) population exceeds the
    operator's ``max_bucket_size`` (default :data:`LSH_MAX_BUCKET`) —
    buckets above it are star-routed, the deliberate pairwise-recall
    trade of :func:`_capped_bucket_pairs`. On the driver fixtures no
    block exceeds ``MAX_JACCARD_BLOCK`` at all, so the LSH sub-tier
    (and with it the cap) never engages; callers running template-heavy
    corpora can pass ``max_bucket_size=None`` to restore exact parity
    at quadratic in-bucket cost."""
    toks = f"list_distinct({_oracle_tokens('text')})"
    return f"""
        WITH docs AS (
            SELECT doc_id, lang, source, {toks} AS tok FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               (CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                   / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))))
                   AS jaccard
        FROM docs a
        JOIN docs b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        WHERE (CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                   / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))))
               >= {threshold}
    """


# --- MinHash + LSH -------------------------------------------------------------


def shingle_rows(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, s): one row per shingle occurrence.

    Explodes the *index* through a Generate node and substrings the
    materialized canonical column. Inside a ``transform`` lambda the
    canonicalization regexp is re-evaluated per element (and Catalyst's
    CollapseProject re-inlines any attempt to pre-project it); through
    Generate it runs once per document — measured ~10x faster on the
    shingle scan at sf0.1.

    The input fans out across the session's cores first (r12,
    parallel.fan_out_scan): the shingle explosion plus the downstream
    64-permutation signature fold is the dedup family's dominant CPU,
    and on a narrow scan (the single-split fixture files) it all ran in
    ONE task (~2.3 s single-task CPU measured at sf0.1). Keyed by
    doc_id, so the per-doc aggregations above stay partition-local; a
    no-op once the scan is wide (the at-scale case)."""
    canon_df = fan_out_scan(documents, "doc_id").select(
        "doc_id", canonical(F.col("text")).alias("canon")
    )
    idx = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length("canon") - (n - 1), F.lit(1)))
    )
    return canon_df.select("doc_id", "canon", idx.alias("i")).select(
        "doc_id", F.col("canon").substr(F.col("i"), F.lit(n)).alias("s")
    )


def shingled_docs(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh): distinct shingle set per document, built from
    shingle_rows (one aggregation; set semantics via collect_set)."""
    return shingle_rows(documents, n).groupBy("doc_id").agg(
        F.collect_set("s").alias("sh")
    )


def _perm_constants(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic multipliers / offsets for the permutation family
    h_i(x) = a_i * (x & 0xFFFFFFFF) + b_i. Constants stay within 30/31
    bits so the product never exceeds 2^62 — no 64-bit overflow, which
    ANSI mode (Spark 4 default) would reject. Derived from a fixed seed
    so signatures are reproducible everywhere."""
    import hashlib

    a, b = [], []
    for i in range(n_hashes):
        d = hashlib.sha256(f"minhash-{i}".encode()).digest()
        a.append((int.from_bytes(d[:4], "little") & 0x3FFFFFFF) | 1)  # odd, 30-bit
        b.append(int.from_bytes(d[4:8], "little") & 0x7FFFFFFF)  # 31-bit
    return a, b


def pinned_shingle_sets(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh) shingle sets behind ONE canonical exchange, for
    operators that consume the sets from several plan branches
    (candidate generation + both verification sides of the pair
    operators).

    The one ingredient is the null-key prefilter: the verification
    joins infer ``IsNotNull(doc_id)`` on their build subtrees and push
    it to the scan, which made those subtrees non-canonical with the
    candidates branch — the scan + fan-out exchange executed once per
    distinct subtree, and the duplicated sibling stages ran
    concurrently against each other (measured at sf0.1: warm task time
    54.2 s → 24.1 s, executor CPU 24.4 s → 11.6 s, warm wall
    5.03 → 3.36 s once the branches share one canonical exchange;
    guide §2.1 — remove redundant computation). Filtering the shared
    base instead makes every branch carry the same filter, so the
    inferred one is subsumed and runtime exchange reuse fires.
    Result-identical: a null doc_id can never survive the verification
    joins, so no pair output changes.

    (An explicit repartition above the set aggregation — to share the
    whole collect_set computation, not just the scan — was tried and is
    NOT here: the input is already doc_id-hash-partitioned at the same
    width, so Catalyst removes the redundant exchange before it can
    become a reuse point.)
    """
    return shingled_docs(documents.filter(F.col("doc_id").isNotNull()), n)


def minhash_lsh_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    hot_bucket_mode: str = "auto",
) -> DataFrame:
    """Near-dup candidate generation + verification:

    1. signatures: one xxhash64 per shingle + arithmetic permutations,
       minimized per doc in a single aggregation;
    2. banding: hash each band of rows = n_hashes/bands signature values;
       explode to (band, bucket, doc_id) — 16 bytes per row, never the
       shingle arrays;
    3. bucket join on (band, bucket) -> distinct candidate pairs;
    4. verification: join the shingle arrays back for the candidates
       only, exact Jaccard >= threshold.

    Scale: the only wide operations are keyed by 8-byte hashes, the
    heavy payload (shingle sets) moves only for candidate pairs, and
    buckets above ``max_bucket_size`` are star-routed so no bucket's
    in-join work exceeds the cap (boilerplate-skew guard — see
    :data:`LSH_MAX_BUCKET`) — the standard near-linear web-dedup plan
    (Broder-style MinHash + LSH).
    One corpus scan — and one shingle computation — total: signatures
    are re-derived from the shingle-set frame (MIN is
    duplicate-insensitive, so sets lose nothing), and the banding path
    and both verification joins all hang off
    :func:`pinned_shingle_sets`' single canonical doc_id exchange, so
    runtime exchange reuse executes the scan→shingle→collect_set
    pipeline once — the earlier formulations re-scanned and
    re-shingled the corpus up to three times (the verify branches'
    inferred null filters made their subtrees non-canonical).

    ``hot_bucket_mode``: ``"star"`` (default) hub-routes oversized
    buckets; ``"subshard"`` salts them on a secondary signature and
    all-pairs within sub-shards — no through-the-hub recall loss for
    corpora whose hot buckets are diverse rather than boilerplate
    (see :func:`_capped_bucket_pairs` for the exact semantics).
    """
    sh_df = pinned_shingle_sets(documents)
    candidates = _candidates_from_sets(
        sh_df, n_hashes, bands, max_bucket_size, hot_bucket_mode
    )
    return verify_jaccard_pairs(candidates, sh_df, sh_df, threshold)


def verify_jaccard_pairs(
    candidates: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact shingle-Jaccard verification of (doc_a, doc_b) candidates —
    the one definition shared by the batch LSH operator and the
    incremental store (functions/incremental.py), so the two tiers can
    never drift. ``sh_a`` / ``sh_b`` supply (doc_id, sh) payloads for
    each side; only candidate ids' payloads move (the joins are keyed
    on the candidate frame)."""
    verified = candidates.join(
        sh_a.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        sh_b.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # |a ∪ b| = |a| + |b| - |a ∩ b| (sets are distinct)
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= F.lit(threshold)
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    hot_bucket_mode: str = "auto",
) -> DataFrame:
    """The pre-verification candidate stage of :func:`minhash_lsh_pairs`
    — exposed so recall is directly testable: the LSH output equals the
    exhaustive Jaccard result iff every true pair appears here
    (tests/test_oracle_parity.py pins recall = 1.0 on each fixture the
    driver's oracle gate runs at, so a fixture/seed/band-geometry change
    fails with a diagnosable recall message instead of an opaque oracle
    hash mismatch)."""
    return _candidates_from_sets(
        shingled_docs(documents), n_hashes, bands, max_bucket_size,
        hot_bucket_mode,
    )


def banded_rows(
    sh_df: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    with_salt: bool = False,
) -> DataFrame:
    """(doc_id, band, bucket) LSH band rows from the (doc_id, sh)
    shingle-set frame — the 16-bytes-per-row index form that both the
    in-corpus pair generation (:func:`_candidates_from_sets`) and the
    incremental store (functions/incremental.py) join on. Signatures
    are a pure function of the shingle set, so band rows computed in
    different batches / sessions are comparable as long as
    (n_hashes, bands) match.

    ``with_salt`` adds a ``salt`` column: band ``b``'s salt is the
    NEXT band's bucket hash (``bucket`` of band ``(b+1) % bands``) — a
    secondary signature of the same document that true near-dups agree
    on with the banding probability but that is independent of band
    ``b``'s own bucket identity. It is what the ``subshard``
    hot-bucket mode salts oversized buckets on
    (:func:`_capped_bucket_pairs`); the default schema stays
    unchanged because the persisted band stores don't carry it."""
    a_const, b_const = _perm_constants(n_hashes)
    rows_per_band = n_hashes // bands
    exploded = sh_df.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id",
        F.xxhash64("s").bitwiseAND(F.lit(0xFFFFFFFF)).alias("h"),
    )
    sig = exploded.groupBy("doc_id").agg(
        *[
            F.min(
                F.pmod(
                    F.col("h") * F.lit(a_const[i]) + F.lit(b_const[i]),
                    F.lit(MERSENNE_P),
                )
            ).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    )

    def bucket_of(b: int) -> Column:
        return F.xxhash64(
            *[
                F.col(f"m{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ]
        )

    def band_struct(b: int) -> Column:
        fields = [F.lit(b).alias("band"), bucket_of(b).alias("bucket")]
        if with_salt:
            fields.append(bucket_of((b + 1) % bands).alias("salt"))
        return F.struct(*fields)

    out_cols = ["doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")]
    if with_salt:
        out_cols.append(F.col("bb.salt").alias("salt"))
    return sig.select(
        "doc_id",
        F.explode(F.array(*[band_struct(b) for b in range(bands)])).alias("bb"),
    ).select(*out_cols)


def _candidates_from_sets(
    sh_df: DataFrame,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    hot_bucket_mode: str = "auto",
) -> DataFrame:
    """Banded-LSH candidate pairs from the (doc_id, sh) shingle-set
    frame. Deriving signatures from the sets (not the raw shingle rows)
    keeps every downstream consumer above sh_df's one doc_id exchange:
    the explode preserves that partitioning, so the signature groupBy is
    partition-local and no second corpus scan exists anywhere in the
    plan. Subshard mode carries the salt column only when asked — the
    default band-row shape (and the persisted stores') is unchanged."""
    return candidate_pairs_from_bands(
        banded_rows(
            sh_df, n_hashes, bands,
            with_salt=(hot_bucket_mode in ("subshard", "auto")),
        ),
        max_bucket_size,
        hot_bucket_mode,
    )


def _capped_bucket_pairs(
    banded: DataFrame,
    keys: tuple[str, ...],
    max_bucket_size: int | None,
    hot_bucket_mode: str = "auto",
) -> DataFrame:
    """(doc_a, doc_b, via_hot_bucket) candidate pairs from bucket rows
    with hot-bucket star routing — the one capped-self-join definition
    shared by the global LSH tier (keys = (band, bucket)) and the
    blocked tier (keys = (lang, source, band, bucket)).

    Population and hub (bucket-minimum doc_id) come from a window over
    the bucket keys — the window's exchange IS the self-join's required
    partitioning, so capping adds a partition-local sort but no extra
    shuffle and no second pass over the signature pipeline. Buckets at
    or under the cap take the exact all-pairs join; hot buckets emit
    only (hub, doc) star pairs, each still subject to the caller's
    exact-Jaccard verification. ``via_hot_bucket`` is false for any
    pair some small bucket also produced (min-aggregated across
    origins) — the audit trail for the capped sliver.

    The star trade, stated precisely: within a hot bucket, a pair of
    non-hub docs is linked only *through* the hub, so the pairwise
    output loses (non-hub, non-hub) pairs whose Jaccard clears the
    threshold while their hub links fail verification. Hot buckets are
    overwhelmingly boilerplate (near-identical docs, all links verify),
    which is why production web-dedup caps or drops them outright;
    :func:`hot_bucket_audit` surfaces exactly which buckets were
    routed. ``max_bucket_size=None`` disables capping (the r3
    semantics).

    ``hot_bucket_mode="subshard"`` (requires a ``salt`` column —
    :func:`banded_rows` ``with_salt=True``) replaces the star with
    salted sub-sharding for corpora whose hot buckets are NOT
    boilerplate: a hot bucket's rows split into
    ``ceil(population / max_bucket_size)`` sub-shards keyed by
    ``pmod(salt, n_shards)`` and all-pair WITHIN each sub-shard. True
    near-dups agree on the salt (it is the next band's bucket hash) so
    they land in the same sub-shard and keep their direct pair —
    bounded fan-out without the star's through-the-hub indirection. A
    sub-shard that still exceeds the cap (identical salts ⇒
    near-identical docs — the boilerplate regime, where the star is
    correct) falls back to star routing within the shard, so per-group
    work stays bounded in every regime. Residual trade: a true pair
    whose salts differ in THIS band is missed here but caught in any
    other shared band (multiplied across ``bands`` band rows — the
    same independence argument banding itself rests on). Pairs from
    hot buckets are flagged ``via_hot_bucket`` in both modes.

    ``hot_bucket_mode="auto"`` (the default) routes PER BUCKET instead
    of asking the caller to know their corpus's skew character in
    advance: a hot bucket whose salt column shows real diversity —
    approx-distinct salts above ``n_shards``, the point where salting
    can actually spread the shards under the cap — takes the subshard
    path; a near-constant-salt bucket (boilerplate: near-identical
    docs share the secondary signature too, so at most a handful of
    salt values exist and every shard would re-exceed the cap anyway)
    keeps the star plan directly, one hub, no shard fan. The signal is
    already in the window that computes the population (one
    ``approx_count_distinct`` next to the ``count`` — fixed-memory
    HLL, order-independent, no second pass), so auto costs nothing a
    subshard run didn't. On band rows WITHOUT a salt column (the
    persisted incremental stores deliberately don't carry one —
    functions/incremental.py) auto degrades to star, the pre-r5
    semantics, rather than failing a frame that cannot be salted.

    Physical shape: NOT a self-join. Each bucket's member list is
    collected into one sorted array (ObjectHashAggregate with
    sort+spill fallback — a pathological bucket buffers k longs
    transiently, 8 MB at k=1M, and its *output* is O(k) star pairs
    either way), and the pair list is generated by a branch of pure
    array expressions: nested transform/flatten for small buckets,
    hub×tail for hot ones. One shuffle on the bucket keys replaces the
    r3 self-join's exchange + two sorted join sides — measured faster
    than the uncapped join at sf0.1 *and* immune to the quadratic
    in-bucket nested loop."""
    if hot_bucket_mode not in ("star", "subshard", "auto"):
        raise ValueError(
            f"hot_bucket_mode must be 'star', 'subshard', or 'auto', got "
            f"{hot_bucket_mode!r}"
        )
    key_cols = list(keys)
    # pin the bucket-key exchange at the session's shuffle width (r12):
    # the stage above it expands buckets into pairs — output quadratic
    # in bucket population under the cap — so AQE's byte-proportional
    # coalescing (which folded this small-byte exchange to ONE task at
    # fixture scale) mis-models its cost. An explicit keyed repartition
    # (REPARTITION_BY_NUM, AQE-exempt) replaces the window/groupBy's
    # implicit exchange 1:1 at the width it would have had pre-coalesce,
    # so this is width-neutral at scale.
    banded = banded.repartition(shuffle_width(banded), *key_cols)
    salt_mode = hot_bucket_mode == "subshard" or (
        hot_bucket_mode == "auto" and "salt" in banded.columns
    )
    if salt_mode and max_bucket_size is not None:
        if "salt" not in banded.columns:
            raise ValueError(
                "hot_bucket_mode='subshard' needs a salt column on the "
                "band rows — build them with banded_rows(with_salt=True)"
            )
        # population via a window over the bucket keys (its exchange is
        # the grouping's required partitioning — same no-extra-shuffle
        # argument as the star path's hub window)
        w = Window.partitionBy(*key_cols)
        pop = F.count(F.lit(1)).over(w)
        n_shards = F.ceil(pop / F.lit(max_bucket_size)).cast("long")
        if hot_bucket_mode == "auto":
            # per-bucket routing signal, in the same window pass:
            # subshard only when distinct salts exceed the shard count
            # (below that, >= one shard re-exceeds the cap by
            # pigeonhole and star's single hub is the cheaper identical
            # output). HLL is order-independent — deterministic. The
            # (1 - rsd) margin is the r6 ADVICE fix: the HLL estimate
            # carries ~rsd relative error, so a genuinely diverse
            # bucket whose estimate lands just under n_shards would be
            # silently star-routed, losing non-hub pairs; erring
            # toward subshard costs only a near-empty shard, never
            # recall. hot_bucket_audit surfaces the same signal so
            # boundary routing is observable.
            diverse = F.approx_count_distinct(
                "salt", _ROUTING_HLL_RSD
            ).over(w) > n_shards * F.lit(1.0 - _ROUTING_HLL_RSD)
        else:
            diverse = F.lit(True)
        salted = banded.withColumn(
            "_hot", pop > F.lit(max_bucket_size)
        ).withColumn(
            "_shard",
            F.when(
                ~F.col("_hot") | ~diverse, F.lit(0).cast("long")
            ).otherwise(F.pmod(F.col("salt"), n_shards)),
        )
        grouped = salted.groupBy(*key_cols, "_shard").agg(
            F.array_sort(F.collect_list("doc_id")).alias("ids"),
            F.first("_hot").alias("hot"),
        )
        hot_col = F.col("hot")
    else:
        grouped = banded.groupBy(*key_cols).agg(
            F.array_sort(F.collect_list("doc_id")).alias("ids")
        )
        hot_col = F.lit(False)
    n = F.size("ids")

    def pair_structs(a_col, tail, via: Column):
        return F.transform(
            tail,
            lambda y: F.struct(
                a_col.alias("doc_a"),
                y.alias("doc_b"),
                via.alias("via_hot_bucket"),
            ),
        )

    # all pairs (i < j by the sort): element i pairs with the tail
    # starting at 1-based position i+2
    all_pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: pair_structs(
                x, F.slice(F.col("ids"), i + F.lit(2), n - i - F.lit(1)), hot_col
            ),
        )
    )
    if max_bucket_size is None:
        pairs = all_pairs
    else:
        star = pair_structs(
            F.element_at(F.col("ids"), 1),
            F.slice(F.col("ids"), F.lit(2), n - F.lit(1)),
            F.lit(True),
        )
        # in subshard mode ``ids`` is one sub-shard's members: small
        # shards all-pair (flagged by their bucket's hotness), shards
        # still over the cap (identical salts = boilerplate) star
        pairs = F.when(n <= F.lit(max_bucket_size), all_pairs).otherwise(star)
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.via_hot_bucket")
        .groupBy("doc_a", "doc_b")
        .agg(F.min("via_hot_bucket").alias("via_hot_bucket"))
    )


def candidate_pairs_from_bands(
    banded: DataFrame,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    hot_bucket_mode: str = "auto",
) -> DataFrame:
    """Distinct candidate pairs from (doc_id, band, bucket) band rows —
    the self-join stage of banded LSH, split out so callers that already
    materialized band rows (functions/incremental.py reuses one band
    frame for store probing, intra-batch candidates, AND the store
    delta) don't pay the signature aggregation once per consumer.

    Buckets whose population exceeds ``max_bucket_size`` are
    star-routed instead of all-paired (see :func:`_capped_bucket_pairs`
    for the exact semantics and :data:`LSH_MAX_BUCKET` for why) — the
    boilerplate-skew guard that keeps the stage near-linear at web
    scale. Output carries a ``via_hot_bucket`` audit column;
    verification stages drop it. ``hot_bucket_mode="subshard"``
    (requires salt-bearing band rows) trades the star's hub
    indirection for salted in-shard all-pairs — see
    :func:`_capped_bucket_pairs`."""
    return _capped_bucket_pairs(
        banded, ("band", "bucket"), max_bucket_size, hot_bucket_mode
    )


def hot_bucket_audit(
    banded: DataFrame,
    max_bucket_size: int = LSH_MAX_BUCKET,
    keys: tuple[str, ...] = ("band", "bucket"),
) -> DataFrame:
    """(keys..., population[, salt_estimate, n_shards, routed]) — the
    buckets :func:`_capped_bucket_pairs` treats as hot at this cap,
    for curation reports ("which templates did we refuse to
    all-pair?"). One thin aggregation over the band rows.

    When the band rows carry a salt (banded_rows(with_salt=True) —
    the default minhash path), the audit also reports the auto
    router's own signal per hot bucket: the HLL salt estimate, the
    shard count, and the decision ('subshard' when the estimate
    clears n_shards * (1 - rsd), 'star' otherwise — the identical
    margin expression, so boundary routing is observable instead of
    silent, the r6 ADVICE posture)."""
    agg_cols = [F.count(F.lit(1)).alias("population")]
    if "salt" in banded.columns:
        agg_cols.append(
            F.approx_count_distinct("salt", _ROUTING_HLL_RSD).alias(
                "salt_estimate"
            )
        )
    out = (
        banded.groupBy(*keys)
        .agg(*agg_cols)
        .filter(F.col("population") > max_bucket_size)
    )
    if "salt" in banded.columns:
        n_shards = F.ceil(
            F.col("population") / F.lit(max_bucket_size)
        ).cast("long")
        out = out.withColumn("n_shards", n_shards).withColumn(
            "routed",
            F.when(
                F.col("salt_estimate")
                > F.col("n_shards") * F.lit(1.0 - _ROUTING_HLL_RSD),
                F.lit("subshard"),
            ).otherwise(F.lit("star")),
        )
    return out


def minhash_lsh_pairs_oracle(
    threshold: float = 0.8, n: int = SHINGLE_N
) -> str:
    """Exhaustive all-pairs exact-Jaccard twin of ``minhash_lsh_pairs``.

    The LSH operator's verification stage keeps exactly the candidate
    pairs whose true shingle Jaccard >= threshold, so its output is a
    *subset* of this exhaustive result by construction and equals it iff
    LSH recall is 1.0 — which it is on the fixture corpora (deterministic
    corpus, deterministic hash family; every true pair has J >= 0.89).
    Comparing against the exhaustive form therefore checks both the
    verification arithmetic (bitwise: |∩|/|∪| is one IEEE division of
    exact integers in both engines) and that banding dropped nothing.

    Equality additionally assumes no (band, bucket) population exceeds
    ``LSH_MAX_BUCKET`` (buckets above it are star-routed, a deliberate
    pairwise-recall trade on boilerplate corpora — see
    :func:`_capped_bucket_pairs`); fixture bucket populations max out
    at 8, nowhere near the 256 default, so the capped and exact plans
    coincide on every driver corpus (pinned in
    tests/test_hot_buckets.py).

    The shingling mirrors ``shingle_rows`` exactly: canonical text
    (lower, whitespace collapse, trim), 1-based substrings of length
    ``n`` over ``range(1, greatest(len-n+1, 1))`` inclusive, distinct.
    The size band in the join condition is the same AllPairs/PPJoin
    length bound the Spark exact tier uses (J >= t implies
    t·|B| <= |A|), with +1 slack so float rounding can never exclude a
    boundary pair — it only prunes, never changes the result.

    Cost: O(n²) pair intersections by design — ~14 s in DuckDB at
    sf0.01 (the driver's scale) but ~15 min at sf0.1, where the Spark
    LSH plan answers in ~5 s. The gap is the point: prefix filtering
    (AllPairs' other prune, tried with both lexicographic and
    rarest-first orderings) does not help here because the fixture
    corpus draws from a small shared vocabulary — every doc pair
    already shares ~40-50% of its shingles, so no shingle is selective.
    Exactly the regime where candidate generation must come from a
    sketch (MinHash bands), not from the data distribution.
    """
    return f"""
        WITH {shingled_docs_cte_sql(n)}
        {exhaustive_pairs_select_sql(threshold)}
    """


def shingled_docs_cte_sql(n: int = SHINGLE_N, table: str = "documents") -> str:
    """The DuckDB CTE body mirroring :func:`shingled_docs` — canonical
    text (lower, whitespace collapse, trim), 1-based length-``n``
    substrings, distinct. ONE definition shared by every oracle that
    shingles (``minhash_lsh_pairs_oracle`` here,
    ``incremental_near_dedup_oracle`` in functions/incremental.py), so
    a canonicalization change can never update one parity gate and
    silently miss the other."""
    return f"""docs AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(canon) - {n - 1}, 1) + 1),
                       i -> substr(canon, CAST(i AS INT), {n})
                   )) AS sh
            FROM (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                           AS canon
                FROM {table}
            )
        )"""


def exhaustive_pairs_select_sql(threshold: float) -> str:
    """Exhaustive verified-pairs SELECT over the ``docs`` CTE: exact
    shingle Jaccard >= threshold with the AllPairs +1-slack length band
    (prune-only, never result-changing). Shared fragment — see
    :func:`shingled_docs_cte_sql`."""
    return f"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)))) AS jaccard
        FROM docs a JOIN docs b
          ON a.doc_id < b.doc_id
         AND len(a.sh) + 1 >= {threshold} * len(b.sh)
         AND len(b.sh) + 1 >= {threshold} * len(a.sh)
        WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / (len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)))) >= {threshold}"""


# --- SimHash --------------------------------------------------------------------


def simhash64(documents: DataFrame, hash_family: str = "sha256") -> DataFrame:
    """64-bit SimHash over token hashes: bit j of the fingerprint is the
    sign of sum over tokens of (bit j of hash(token) ? +1 : -1).

    All JVM-side, one shuffle on doc_id. The naive formulation needs 64
    aggregate columns (falls out of whole-stage codegen; measured ~5x
    slower) and a per-group Pandas UDF was slower still (Python call per
    doc). Instead the 64 bit-counters are packed 4-per-long in 16-bit
    lanes: 16 packed SUMs + a COUNT, then a pure projection unpacks and
    compares each lane against n/2. Lanes hold counts up to 65535
    distinct tokens per document (chunk the input above that).

    Hash families: ``sha256`` (default) takes the top 64 bits of the
    token's sha256 — a portable family DuckDB reproduces digit-for-digit,
    which makes the whole operator oracle-checkable (the chunk blocking
    downstream is pigeonhole-exact, so there is no recall term to
    excuse); ``xxhash64`` is the cheapest-per-token production option
    when cross-engine verification isn't needed. The SimHash estimator
    itself only needs uniform independent bits — both families qualify;
    measured at sf0.1 the sha256 variant costs <0.4s extra on 750k
    tokens, all inside codegen.
    """
    if hash_family == "xxhash64":
        h = F.xxhash64(F.col("t"))
    elif hash_family == "sha256":
        hx = F.sha2(F.col("t"), 256)
        # two 32-bit halves of the leading 16 hex digits; shiftleft
        # wraps bit 31 of `hi` into the long's sign bit — bits land at
        # exactly the positions the oracle reads off the hex digits
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        h = F.shiftleft(hi, 32).bitwiseOR(lo)
    else:  # pragma: no cover - guarded API
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    # fan out the narrow scan before the per-token hash work (r12,
    # parallel.fan_out_scan): the sha256-per-token + packed-counter fold
    # otherwise runs single-task on single-split inputs; keyed by doc_id
    # so the packed groupBy below stays partition-local
    tok = fan_out_scan(documents, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("t")
    ).select("doc_id", h.alias("h"))

    def packed_counter(g: int):
        # 4 bits (g*4 .. g*4+3) of h, packed into 16-bit lanes of a long
        expr = None
        for k in range(4):
            bit = F.shiftrightunsigned(F.col("h"), g * 4 + k).bitwiseAND(F.lit(1))
            term = bit * F.lit(1 << (16 * k))
            expr = term if expr is None else expr + term
        return F.sum(expr).alias(f"p{g}")

    packed = tok.groupBy("doc_id").agg(
        *[packed_counter(g) for g in range(16)], F.count(F.lit(1)).alias("n")
    )
    fp = None
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    for j in range(64):
        g, k = j // 4, j % 4
        ones = F.shiftrightunsigned(F.col(f"p{g}"), 16 * k).bitwiseAND(F.lit(0xFFFF))
        # sign of (2*ones - n) > 0  <=>  2*ones > n
        bit = F.when(ones * 2 > F.col("n"), F.shiftleft(one, j)).otherwise(zero)
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return packed.select("doc_id", fp.alias("simhash"))


def simhash_near_dup_pairs(
    documents: DataFrame, max_hamming: int = 3, hash_family: str = "sha256"
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit
    chunks (pigeonhole: distance <= 3 over 4 chunks means at least one
    chunk matches exactly — candidates only need to share a chunk).

    The blocking is exact (no recall loss), so with the portable sha256
    family the output equals the exhaustive all-pairs Hamming filter and
    carries a full DuckDB oracle (``simhash_near_dup_pairs_oracle``).

    The chunk count is derived from the threshold: splitting 64 bits
    into ``max_hamming + 1`` disjoint chunks guarantees (pigeonhole)
    that any pair within ``max_hamming`` differing bits agrees exactly
    on at least one chunk. A fixed chunk count would silently lose
    recall for larger thresholds — with 4 chunks, a hamming-4 pair can
    differ by one bit in every chunk and never share a block (a real
    miss caught by the perturbed-pair test). Wider thresholds mean
    narrower chunks and denser candidate blocks: the standard
    sensitivity/cost dial of Charikar-style dedup."""
    if not 1 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [1, 31] (chunks need >= 2 bits)")
    n_chunks = max_hamming + 1
    base, rem = divmod(64, n_chunks)
    widths = [base + 1] * rem + [base] * (n_chunks - rem)
    starts = [sum(widths[:c]) for c in range(n_chunks)]
    fps = simhash64(documents, hash_family=hash_family)
    chunks = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), starts[c])
                        .bitwiseAND(F.lit((1 << widths[c]) - 1))
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", "cc.chunk_idx", "cc.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        # hamming filter BELOW the pair distinct (r12, guide §2.3):
        # hamming is a function of the pair, so filtering first is
        # result-identical — and the distinct's exchange now carries
        # only matching pairs instead of every chunk-sharing candidate
        # (at web scale the candidate set is the far larger of the two)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_near_dup_pairs_oracle(max_hamming: int = 3) -> str:
    """Exhaustive SQL twin of ``simhash_near_dup_pairs`` (sha256 family).

    Rebuilds the fingerprint digit-for-digit: bit j of a token's 64-bit
    hash is bit (j%4) of hex digit 16 - j//4 of its sha256 (the same
    bits Spark's conv/shiftleft assembly reads), the 64 per-bit majority
    votes use the identical strict-majority tie rule (2·ones > n), and
    Hamming distance is bit_count(xor) over two 32-bit halves — all
    integer arithmetic, so equality is exact, not approximate. No
    blocking: the Spark side's pigeonhole chunks are recall-lossless, so
    the exhaustive pair set is the same set."""
    toks = f"list_distinct({_oracle_tokens('text')})"
    ones = ",\n                   ".join(
        f"SUM(((strpos('0123456789abcdef', substr(hx, {16 - j // 4}, 1)) - 1)"
        f" >> {j % 4}) & 1) AS o{j}"
        for j in range(64)
    )
    fp_lo = " + ".join(
        f"CASE WHEN 2 * o{j} > n THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END"
        for j in range(32)
    )
    fp_hi = " + ".join(
        f"CASE WHEN 2 * o{j} > n THEN (CAST(1 AS BIGINT) << {j - 32}) ELSE 0 END"
        for j in range(32, 64)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest({toks}) AS t FROM documents
        ),
        th AS (
            SELECT doc_id, sha256(t) AS hx FROM tok
        ),
        bits AS (
            SELECT doc_id,
                   {ones},
                   COUNT(*) AS n
            FROM th GROUP BY doc_id
        ),
        fp AS (
            SELECT doc_id, ({fp_lo}) AS fp_lo, ({fp_hi}) AS fp_hi FROM bits
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.fp_lo, b.fp_lo))
                    + bit_count(xor(a.fp_hi, b.fp_hi)) AS INT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp_lo, b.fp_lo))
              + bit_count(xor(a.fp_hi, b.fp_hi)) <= {max_hamming}
    """
