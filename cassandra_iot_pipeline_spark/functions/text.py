"""Text analysis operators over the ``documents`` table.

All hot-path expressions are built-in Catalyst functions (split,
array ops, arithmetic) — JVM-side, codegen'd, no Python per row. Each
operator has a DuckDB-oracle twin built from the *same* primitive
sequence so results match exactly at any scale.

Tokenization contract (shared by every operator here and in dedup.py):
lowercase, split on runs of non-[a-z0-9'], drop empties.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9']+"

# Tiny per-language stopword inventories for the n-gram/stopword-overlap
# language heuristic. Deliberately small and fixed: the operator contract
# is "deterministic heuristic", not "SOTA langid".
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "es": ("el", "la", "los", "de", "que", "y", "en", "un", "una", "es"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "dans"),
    "zh": ("de", "shi", "bu", "le", "wo", "ni", "ta", "men", "zai", "you"),
}
STOPWORDS_ALL = tuple(sorted({w for ws in LANG_STOPWORDS.values() for w in ws}))


#: the POSITIVE form of TOKEN_SPLIT_RE — same tokens as splitting on
#: the negated class and dropping empties (maximal [a-z0-9']+ runs
#: are exactly the split complement; token-level equality pinned in
#: tests/test_extensions.py). The positive class is the one the JVM
#: executes fast: JDK 17 compiles a small positive class to a bitmap
#: test but wraps a NEGATED class in a per-char lambda predicate —
#: measured 10.1 s vs 1.0 s tokenizing a 100k-doc corpus (r8).
TOKEN_MATCH_RE = "[a-z0-9']+"


def tokens(col: Column) -> Column:
    """Tokenize: lower, take maximal alphanumeric/apostrophe runs
    (== split on non-alphanumeric runs + drop empties, 10x faster on
    the JVM regex engine — see TOKEN_MATCH_RE)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_MATCH_RE), 0)


def _oracle_tokens(expr: str) -> str:
    # SQL string literal: the apostrophe in the regex must be doubled.
    sql_re = TOKEN_SPLIT_RE.replace("'", "''")
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{sql_re}'),"
        " x -> x <> '')"
    )


def _stats_columns() -> list[Column]:
    """Aliased per-document statistic columns (shared by text_stats and
    text_profile). Empty-document guard: every ratio denominator goes
    through nullif(_, 0) so a 0-token / 0-char document yields NULL
    ratios (mirrored with NULLIF in the oracle) instead of an ANSI
    divide-by-zero error."""
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length(F.col("text"))
    alpha_chars = F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in STOPWORDS_ALL]))
    )
    tok_den = F.nullif(n_tokens, F.lit(0))
    chr_den = F.nullif(n_chars, F.lit(0))
    return [
        n_chars.cast("long").alias("n_chars_computed"),
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        (n_distinct.cast("double") / tok_den).alias("distinct_ratio"),
        (alpha_chars.cast("double") / chr_den).alias("alpha_ratio"),
        (stop_hits.cast("double") / tok_den).alias("stopword_ratio"),
        (n_chars.cast("double") / tok_den).alias("mean_token_span"),
        # composite pretraining-filter score in [0,1]; fixed op order so
        # the oracle reproduces it bit-for-bit
        (
            (alpha_chars.cast("double") / chr_den) * 0.3
            + F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.3
            + (n_distinct.cast("double") / tok_den) * 0.2
            + F.least(
                (stop_hits.cast("double") / tok_den) * 5.0, F.lit(1.0)
            )
            * 0.2
        ).alias("quality_score"),
    ]


def _stats_columns_sql() -> list[str]:
    toks = _oracle_tokens("text")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_ALL)
    return [
        "CAST(length(text) AS BIGINT) AS n_chars_computed",
        f"CAST(len({toks}) AS BIGINT) AS n_tokens",
        f"CAST(len(list_distinct({toks})) AS BIGINT) AS n_distinct_tokens",
        f"(CAST(len(list_distinct({toks})) AS DOUBLE) / NULLIF(len({toks}), 0))"
        " AS distinct_ratio",
        "(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)"
        " / NULLIF(length(text), 0)) AS alpha_ratio",
        f"(CAST(len(list_filter({toks}, t -> t IN ({stop_list}))) AS DOUBLE)"
        f" / NULLIF(len({toks}), 0)) AS stopword_ratio",
        f"(CAST(length(text) AS DOUBLE) / NULLIF(len({toks}), 0)) AS mean_token_span",
        f"""(
            (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                / NULLIF(length(text), 0)) * 0.3
            + LEAST(CAST(len({toks}) AS DOUBLE) / 100.0, 1.0) * 0.3
            + (CAST(len(list_distinct({toks})) AS DOUBLE) / NULLIF(len({toks}), 0)) * 0.2
            + LEAST((CAST(len(list_filter({toks}, t -> t IN ({stop_list}))) AS DOUBLE)
                / NULLIF(len({toks}), 0)) * 5.0, 1.0) * 0.2
        ) AS quality_score""",
    ]


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document token/char statistics + a composite quality score.

    quality_score blends signals a pretraining filter uses: mean word
    length in a sane band, low non-alpha ratio, bounded repetition
    (distinct/total tokens). All integer/exact-division arithmetic.
    """
    return documents.select("doc_id", *_stats_columns())


def text_stats_oracle() -> str:
    cols = ",\n            ".join(_stats_columns_sql())
    return f"SELECT doc_id, {cols} FROM documents"


def _lang_columns() -> list[Column]:
    """Aliased language-heuristic columns: per-language stopword-overlap
    scores + argmax guess with a fixed precedence order (en, de, es, fr,
    zh) breaking ties — the CASE chain is mirrored verbatim in SQL."""
    toks = F.array_distinct(tokens(F.col("text")))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws])))
        for lang, ws in LANG_STOPWORDS.items()
    }
    order = list(LANG_STOPWORDS)
    expr = None
    for lang in order:
        cond = None
        for other in order:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = (cond, F.lit(lang))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    guess = expr.otherwise(F.lit("und"))
    sel = [F.col("lang").alias("lang_label")]
    sel += [scores[lang].cast("long").alias(f"score_{lang}") for lang in order]
    sel.append(guess.alias("lang_guess"))
    return sel


def _lang_columns_sql() -> list[str]:
    toks = f"list_distinct({_oracle_tokens('text')})"
    order = list(LANG_STOPWORDS)
    score_sql = {
        lang: f"len(list_intersect({toks}, [{', '.join(repr(w) for w in ws)}]))"
        for lang, ws in LANG_STOPWORDS.items()
    }
    cases = []
    for lang in order:
        conds = " AND ".join(
            f"({score_sql[lang]} >= {score_sql[other]})"
            for other in order
            if other != lang
        )
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_expr = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return (
        ["lang AS lang_label"]
        + [f"CAST({score_sql[lang]} AS BIGINT) AS score_{lang}" for lang in order]
        + [f"{case_expr} AS lang_guess"]
    )


def language_guess(documents: DataFrame) -> DataFrame:
    """Stopword-overlap language heuristic: score = |distinct tokens ∩
    language stopwords| per language; argmax with a fixed precedence
    order (en, de, es, fr, zh) breaking ties."""
    return documents.select("doc_id", *_lang_columns())


def language_guess_oracle() -> str:
    cols = ", ".join(_lang_columns_sql())
    return f"SELECT doc_id, {cols} FROM documents"


def fingerprint(documents: DataFrame) -> DataFrame:
    """Document fingerprinting: a whitespace-normalized canonical form
    (the dedup key) plus a 64-bit content hash (xxhash64 — Spark-side
    identity for fast joins; the canonical key is the cross-engine
    contract)."""
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    return documents.select(
        "doc_id",
        canon.alias("canonical_text"),
        F.xxhash64(canon).alias("content_hash64"),
    )


def fingerprint_oracle() -> str:
    # content_hash64 is engine-specific (xxhash64 has no DuckDB twin);
    # the oracle checks the canonical form that feeds it.
    return """
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS canonical_text
        FROM documents
    """


# GPT-2-style pretokenizer regex, restricted to constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookarounds, unicode classes \p{L} / \p{N} only.
BPE_ISH_RE = r"'(?:s|d|m|t|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def _token_count_columns() -> list[Column]:
    ws = F.size(tokens(F.col("text")))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_RE), F.lit(0)))
    return [
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_ish_tokens"),
        (bpe.cast("double") / F.nullif(ws, F.lit(0))).alias("subword_ratio"),
    ]


def _token_count_columns_sql() -> list[str]:
    toks = _oracle_tokens("text")
    # same pattern; DuckDB string literal needs doubled quotes for '
    bpe_sql = BPE_ISH_RE.replace("'", "''")
    return [
        f"CAST(len({toks}) AS BIGINT) AS ws_tokens",
        f"CAST(len(regexp_extract_all(text, '{bpe_sql}')) AS BIGINT)"
        " AS bpe_ish_tokens",
        f"(CAST(len(regexp_extract_all(text, '{bpe_sql}')) AS DOUBLE)"
        f" / NULLIF(len({toks}), 0)) AS subword_ratio",
    ]


def token_counts(documents: DataFrame) -> DataFrame:
    """Token counting two ways (the LLM-pipeline accounting operator):
    whitespace tokens and BPE-ish pretokens (GPT-2-style regex). Both
    native regexp_extract_all/split — no Python."""
    return documents.select("doc_id", *_token_count_columns())


def token_counts_oracle() -> str:
    cols = ", ".join(_token_count_columns_sql())
    return f"SELECT doc_id, {cols} FROM documents"


def text_profile(documents: DataFrame) -> DataFrame:
    """The full per-document text-analysis profile in ONE scan: quality
    statistics (:func:`text_stats`), token accounting
    (:func:`token_counts` — ``ws_tokens`` is the same tokenizer as
    ``n_tokens``, so only the BPE-ish columns are added) and the
    language heuristic (:func:`language_guess`). At 100 TB this is the
    plan you actually run: every column is a Catalyst expression over
    the same projected ``text``, whole-stage-codegen'd, one pass, no
    shuffle, no Python."""
    return documents.select(
        "doc_id",
        *_stats_columns(),
        *_token_count_columns()[1:],  # bpe_ish_tokens, subword_ratio
        *_lang_columns(),
    )


def text_profile_oracle() -> str:
    cols = ",\n            ".join(
        _stats_columns_sql() + _token_count_columns_sql()[1:] + _lang_columns_sql()
    )
    return f"SELECT doc_id, {cols} FROM documents"


# --- rolling-hash fingerprint -------------------------------------------------

ROLL_BASE = 1_000_003
ROLL_MOD = 2_147_483_647  # 2^31-1


def rolling_fingerprint(documents: DataFrame) -> DataFrame:
    """Polynomial rolling hash of the canonical text:
    h = sum_i byte_i * BASE^(n-1-i) mod P, folded left-to-right as
    h = (h*BASE + byte) mod P — a pure Catalyst aggregate over the
    character array (no UDF). The classic Rabin-Karp fingerprint;
    content-defined chunking reuses the same recurrence.
    Verified against an independent Python implementation in tests.
    """
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    chars = F.split(canon, "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(
            acc * ROLL_BASE + F.ascii(ch), F.lit(ROLL_MOD)
        ),
    )
    return documents.select("doc_id", fp.alias("rolling_hash"))


def rolling_fingerprint_reference(text: str) -> int:
    """Driver-side reference implementation (for tests)."""
    import re

    canon = re.sub(r"\s+", " ", text.lower()).strip()
    h = 0
    for ch in canon:
        h = (h * ROLL_BASE + ord(ch)) % ROLL_MOD
    return h


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """`fingerprint` + `rolling_fingerprint` fused into one scan: the
    whitespace-normalized canonical form (the cross-engine dedup key)
    and its Rabin-Karp rolling hash. The engine-specific xxhash64 column
    stays on :func:`fingerprint` (no DuckDB twin)."""
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    fp = F.aggregate(
        F.split(canon, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * ROLL_BASE + F.ascii(ch), F.lit(ROLL_MOD)),
    )
    return documents.select(
        "doc_id",
        canon.alias("canonical_text"),
        fp.alias("rolling_hash"),
    )


def doc_fingerprints_oracle() -> str:
    return r"""
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS canonical_text,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT), list_transform(
                       string_split_regex(
                           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''
                       ),
                       c -> CAST(ascii(c) AS BIGINT)
                   )),
                   (acc, ch) -> (acc * 1000003 + ch) % 2147483647
               ) AS rolling_hash
        FROM documents
    """


def word_frequencies(documents: DataFrame, k: int = 50) -> DataFrame:
    """Corpus word frequencies, top-k — the canonical explode/aggregate
    shape (vocabulary building for tokenizer training). One shuffle on
    the token, heap top-k, deterministic tie-break."""
    return (
        documents.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
    )


def word_frequencies_oracle(k: int = 50) -> str:
    toks = _oracle_tokens("text")
    return f"""
        SELECT token, COUNT(*) AS n_occurrences
        FROM (SELECT unnest({toks}) AS token FROM documents)
        GROUP BY token
        ORDER BY n_occurrences DESC, token ASC
        LIMIT {k}
    """


# --- rule-based quality filter (C4 / Gopher heuristics) ----------------------
#
# Doc-level keep/drop rules in the style of C4 (Raffel et al. 2020) and
# the Gopher/MassiveText repetition-and-structure filters (Rae et al.
# 2021). Thresholds are module constants so a pipeline can tune them;
# each tripped rule contributes a named reason, making the filter
# auditable (why was this document dropped?) rather than a bare boolean.
QF_MIN_WORDS = 50
QF_MAX_WORDS = 100_000
QF_MIN_MEAN_WORD_LEN = 3.0
QF_MAX_MEAN_WORD_LEN = 10.0
QF_MAX_SYMBOL_RATIO = 0.1
QF_MAX_BULLET_RATIO = 0.9
QF_MAX_ELLIPSIS_RATIO = 0.3
QF_MIN_STOP_HITS = 2
QF_MIN_TERMINAL_PUNCT_RATIO = 0.1

_QF_BULLETS = ("-", "*", "•")
_QF_TERMINALS = (".", "!", "?", '"')


def quality_flags(documents: DataFrame) -> DataFrame:
    """Rule-based pretraining quality filter with named drop reasons.

    Complements :func:`text_stats`'s composite ``quality_score`` (used by
    ``curation.curate_corpus``) with the *auditable* rule form: one row
    per document with every structural signal, ``drop_reasons`` (the
    rules that tripped, fixed order, comma-joined) and ``keep``.

    Rules (all pure Catalyst — one codegen'd scan, no shuffle, no
    Python):

    - ``word_count``      n_words outside [QF_MIN_WORDS, QF_MAX_WORDS]
    - ``word_length``     mean token length outside [3, 10]   (Gopher)
    - ``symbol_ratio``    ('#' + ellipsis) per word > 0.1      (Gopher)
    - ``bullet_lines``    > 90 % of lines start with a bullet  (Gopher)
    - ``ellipsis_lines``  > 30 % of lines end with an ellipsis (Gopher)
    - ``stopwords``       < 2 stopword hits                    (Gopher)
    - ``boilerplate``     contains 'lorem ipsum' or '{'        (C4)
    - ``terminal_punct``  < 10 % of lines end in . ! ? "       (C4-ish)

    Empty-document guard: ratio denominators go through nullif(_, 0),
    so a 0-word / 0-line document yields NULL ratios and those rules
    simply do not trip (NULL comparisons are not TRUE in either
    engine); the word_count band still catches it. At 100 TB this is a
    map-only operator: Catalyst pipelines it into the scan, and the
    ``keep`` predicate pushes down when composed with a filter.
    """
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    word_den = F.nullif(n_words, F.lit(0))
    sum_word_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = sum_word_len.cast("double") / word_den

    lines = F.filter(
        F.split(F.col("text"), "\n"), lambda l: F.trim(l) != F.lit("")
    )
    n_lines = F.size(lines)
    line_den = F.nullif(n_lines, F.lit(0))
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin(*_QF_BULLETS),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda l: F.endswith(F.rtrim(l), F.lit("..."))
            | F.endswith(F.rtrim(l), F.lit("…")),
        )
    )
    terminal_lines = F.size(
        F.filter(lines, lambda l: F.right(F.rtrim(l), F.lit(1)).isin(*_QF_TERMINALS))
    )

    n_hash = F.length(F.col("text")) - F.length(
        F.replace(F.col("text"), F.lit("#"), F.lit(""))
    )
    n_dotdotdot = F.length(F.col("text")) - F.length(
        F.replace(F.col("text"), F.lit("..."), F.lit(""))
    )
    n_uni_ellipsis = F.length(F.col("text")) - F.length(
        F.replace(F.col("text"), F.lit("…"), F.lit(""))
    )
    # fixed op order (matches the oracle bit-for-bit)
    symbol_ratio = (
        n_hash.cast("double")
        + n_dotdotdot.cast("double") / F.lit(3.0)
        + n_uni_ellipsis.cast("double")
    ) / word_den

    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in STOPWORDS_ALL]))
    )
    boilerplate = F.contains(
        F.lower(F.col("text")), F.lit("lorem ipsum")
    ) | F.contains(F.col("text"), F.lit("{"))

    bullet_ratio = bullet_lines.cast("double") / line_den
    ellipsis_ratio = ellipsis_lines.cast("double") / line_den
    terminal_ratio = terminal_lines.cast("double") / line_den

    def _reason(cond, name):
        return F.when(cond, F.array(F.lit(name))).otherwise(
            F.array().cast("array<string>")
        )

    reasons = F.array_join(
        F.flatten(
            F.array(
                _reason(
                    (n_words < QF_MIN_WORDS) | (n_words > QF_MAX_WORDS),
                    "word_count",
                ),
                _reason(
                    (mean_word_len < QF_MIN_MEAN_WORD_LEN)
                    | (mean_word_len > QF_MAX_MEAN_WORD_LEN),
                    "word_length",
                ),
                _reason(symbol_ratio > QF_MAX_SYMBOL_RATIO, "symbol_ratio"),
                _reason(bullet_ratio > QF_MAX_BULLET_RATIO, "bullet_lines"),
                _reason(
                    ellipsis_ratio > QF_MAX_ELLIPSIS_RATIO, "ellipsis_lines"
                ),
                _reason(stop_hits < QF_MIN_STOP_HITS, "stopwords"),
                _reason(boilerplate, "boilerplate"),
                _reason(
                    terminal_ratio < QF_MIN_TERMINAL_PUNCT_RATIO,
                    "terminal_punct",
                ),
            )
        ),
        ",",
    )

    return documents.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        terminal_ratio.alias("terminal_punct_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
        reasons.alias("drop_reasons"),
        (reasons == F.lit("")).alias("keep"),
    )


def quality_flags_oracle(source_table: str = "documents") -> str:
    toks = _oracle_tokens("text")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS_ALL)
    bullets = ", ".join(f"'{b}'" for b in _QF_BULLETS)
    terminals = ", ".join("''''" if t == "'" else f"'{t}'" for t in _QF_TERMINALS)
    reasons = f"""array_to_string(flatten([
        CASE WHEN (n_words < {QF_MIN_WORDS} OR n_words > {QF_MAX_WORDS})
             THEN ['word_count'] ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN (mean_word_len < {QF_MIN_MEAN_WORD_LEN}
                   OR mean_word_len > {QF_MAX_MEAN_WORD_LEN})
             THEN ['word_length'] ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN symbol_ratio > {QF_MAX_SYMBOL_RATIO}
             THEN ['symbol_ratio'] ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN bullet_ratio > {QF_MAX_BULLET_RATIO}
             THEN ['bullet_lines'] ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN ellipsis_ratio > {QF_MAX_ELLIPSIS_RATIO}
             THEN ['ellipsis_lines'] ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN stop_hits < {QF_MIN_STOP_HITS}
             THEN ['stopwords'] ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN boilerplate
             THEN ['boilerplate'] ELSE CAST([] AS VARCHAR[]) END,
        CASE WHEN terminal_punct_ratio < {QF_MIN_TERMINAL_PUNCT_RATIO}
             THEN ['terminal_punct'] ELSE CAST([] AS VARCHAR[]) END
    ]), ',')"""
    return f"""
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
               ellipsis_ratio, terminal_punct_ratio, stop_hits,
               {reasons} AS drop_reasons,
               ({reasons} = '') AS keep
        FROM (
            SELECT doc_id,
                   CAST(len({toks}) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform({toks}, t -> length(t)))
                        AS DOUBLE) / NULLIF(len({toks}), 0) AS mean_word_len,
                   (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                    + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0
                    + CAST(length(text) - length(replace(text, '…', '')) AS DOUBLE)
                   ) / NULLIF(len({toks}), 0) AS symbol_ratio,
                   CAST(len(list_filter(lines,
                        l -> substr(ltrim(l), 1, 1) IN ({bullets}))) AS DOUBLE)
                       / NULLIF(len(lines), 0) AS bullet_ratio,
                   CAST(len(list_filter(lines,
                        l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
                        AS DOUBLE)
                       / NULLIF(len(lines), 0) AS ellipsis_ratio,
                   CAST(len(list_filter(lines,
                        l -> right(rtrim(l), 1) IN ({terminals}))) AS DOUBLE)
                       / NULLIF(len(lines), 0) AS terminal_punct_ratio,
                   CAST(len(list_filter({toks}, t -> t IN ({stop_list})))
                        AS BIGINT) AS stop_hits,
                   (contains(lower(text), 'lorem ipsum') OR contains(text, '{{'))
                       AS boilerplate
            FROM (
                SELECT *,
                       list_filter(regexp_split_to_array(text, '\\n'),
                                   l -> trim(l) <> '') AS lines
                FROM {source_table}
            )
        )
    """


# --- repetition signals (Gopher §A1.2: "repetition" filters) ----------------

REP_TOP_NS = (2, 3, 4)
REP_DUP_NS = (5, 6, 7, 8, 9, 10)


def _gram_index_structs(toks_col: str, n: int) -> Column:
    """Array of {n, i} index structs for every word n-gram start of the
    *materialized* token array column ``toks_col``.

    Only integers are built inside the ``transform`` lambda — the gram
    strings are sliced *after* the Generate, against the token array
    the Generate carries through. Slicing (or tokenizing) inside the
    lambda would re-evaluate the full expression per element — O(L²)
    per document, and catastrophic when ``text`` is itself a computed
    column (measured: 20k synthetic docs went from >400 s to ~9 s).
    Same lesson as cleaning._shingle_hash_rows / dedup.shingle_rows.

    Guarded sequence: ``sequence(1, k)`` generates a *descending* range
    when k < 1, so short documents contribute an empty array instead.
    """
    bound = F.size(toks_col) - (n - 1)
    empty = F.array().cast("array<struct<n:int,i:int>>")
    return F.when(
        bound >= 1,
        F.transform(
            F.sequence(F.lit(1), bound),
            lambda i: F.struct(
                F.lit(n).alias("n"), i.cast("int").alias("i")
            ),
        ),
    ).otherwise(empty)


def repetition_signals(
    documents: DataFrame,
    top_ns: tuple[int, ...] = REP_TOP_NS,
    dup_ns: tuple[int, ...] = REP_DUP_NS,
) -> DataFrame:
    """Per-document repetition metrics in the Gopher filter family.

    Output, one row per document (NULL where undefined):

    - ``n_lines``             non-blank lines (0 for blank docs)
    - ``dup_line_frac``       1 - distinct_lines / n_lines
    - ``dup_line_char_frac``  chars in repeat occurrences of a line /
                              total line chars
    - ``top_{n}gram_char_frac`` (n in ``top_ns``)  largest character
      mass ``count * length(gram)`` of any word n-gram / total n-gram
      character mass — high when one phrase dominates the document
    - ``dup_{n}gram_char_frac`` (n in ``dup_ns``)  character mass of
      n-grams occurring more than once / total n-gram mass

    100 TB design: per-doc quadratic array tricks are avoided — grams
    are exploded once (all n values through one Generate) and counted
    with hash aggregation. A document's grams live in one input
    partition, so the map-side partial agg collapses every doc-local
    repeat before the exchange: shuffle volume is the number of
    *distinct* (doc, n, gram) triples, not total gram occurrences.
    Skew is bounded by document length, never by corpus shape. Two
    exchanges on the gram path, one on the line path, then doc-key
    joins that AQE plans as shuffle or broadcast by actual size.

    The DuckDB twin (:func:`repetition_signals_oracle`) mirrors every
    arithmetic step (integer masses, one double division at the edge),
    so results match bit-for-bit.
    """
    ns = sorted(set(top_ns) | set(dup_ns))

    tok_df = documents.select("doc_id", tokens(F.col("text")).alias("toks"))
    grams = tok_df.select(
        "doc_id",
        "toks",
        F.explode(
            F.flatten(F.array(*[_gram_index_structs("toks", n) for n in ns]))
        ).alias("g"),
    ).select(
        "doc_id",
        F.col("g.n").alias("n"),
        F.concat_ws(
            " ", F.slice("toks", F.col("g.i"), F.col("g.n"))
        ).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("cnt"))
    mass = F.col("cnt") * F.length("gram")
    gram_agg = per_gram.groupBy("doc_id", "n").agg(
        F.sum(mass).alias("total_mass"),
        F.max(mass).alias("top_mass"),
        F.sum(F.when(F.col("cnt") > 1, mass).otherwise(F.lit(0))).alias(
            "dup_mass"
        ),
    )
    fr = gram_agg.select(
        "doc_id",
        "n",
        (F.col("top_mass").cast("double") / F.col("total_mass")).alias(
            "top_frac"
        ),
        (F.col("dup_mass").cast("double") / F.col("total_mass")).alias(
            "dup_frac"
        ),
    )
    piv = (
        fr.groupBy("doc_id")
        .pivot("n", ns)
        .agg(F.first("top_frac").alias("top"), F.first("dup_frac").alias("dup"))
    )

    lines = documents.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), "\n"), lambda l: F.trim(l) != F.lit(""))
        ).alias("line"),
    )
    per_line = lines.groupBy("doc_id", "line").agg(F.count("*").alias("cnt"))
    line_agg = per_line.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.count("*").alias("n_distinct_lines"),
        F.sum(F.col("cnt") * F.length("line")).alias("line_mass"),
        F.sum((F.col("cnt") - F.lit(1)) * F.length("line")).alias(
            "dup_line_mass"
        ),
    )

    out_cols = [
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
        (
            (F.col("n_lines") - F.col("n_distinct_lines")).cast("double")
            / F.col("n_lines")
        ).alias("dup_line_frac"),
        (F.col("dup_line_mass").cast("double") / F.col("line_mass")).alias(
            "dup_line_char_frac"
        ),
    ]
    out_cols += [
        F.col(f"{n}_top").alias(f"top_{n}gram_char_frac") for n in sorted(top_ns)
    ]
    out_cols += [
        F.col(f"{n}_dup").alias(f"dup_{n}gram_char_frac") for n in sorted(dup_ns)
    ]
    return (
        documents.select("doc_id")
        .join(line_agg, "doc_id", "left")
        .join(piv, "doc_id", "left")
        .select("doc_id", *out_cols)
    )


def repetition_signals_oracle(
    source_table: str = "documents",
    top_ns: tuple[int, ...] = REP_TOP_NS,
    dup_ns: tuple[int, ...] = REP_DUP_NS,
) -> str:
    ns = sorted(set(top_ns) | set(dup_ns))
    toks = _oracle_tokens("text")
    gram_selects = "\n            UNION ALL\n".join(
        f"""
            SELECT doc_id, {n} AS n,
                   array_to_string(list_slice(t, i, i + {n - 1}), ' ') AS gram
            FROM toks, UNNEST(range(1, len(t) - {n} + 2)) AS r(i)"""
        for n in ns
    )
    piv_cols = ",\n                   ".join(
        f"MAX(CASE WHEN n = {n} THEN top_frac END) AS top_{n},\n"
        f"                   MAX(CASE WHEN n = {n} THEN dup_frac END) AS dup_{n}"
        for n in ns
    )
    out_top = ",\n               ".join(
        f"top_{n} AS top_{n}gram_char_frac" for n in sorted(top_ns)
    )
    out_dup = ",\n               ".join(
        f"dup_{n} AS dup_{n}gram_char_frac" for n in sorted(dup_ns)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, {toks} AS t FROM {source_table}
        ),
        grams AS ({gram_selects}
        ),
        per_gram AS (
            SELECT doc_id, n, gram, COUNT(*) AS cnt
            FROM grams GROUP BY doc_id, n, gram
        ),
        gram_agg AS (
            SELECT doc_id, n,
                   SUM(cnt * length(gram)) AS total_mass,
                   MAX(cnt * length(gram)) AS top_mass,
                   SUM(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
                       AS dup_mass
            FROM per_gram GROUP BY doc_id, n
        ),
        fr AS (
            SELECT doc_id, n,
                   CAST(top_mass AS DOUBLE) / total_mass AS top_frac,
                   CAST(dup_mass AS DOUBLE) / total_mass AS dup_frac
            FROM gram_agg
        ),
        piv AS (
            SELECT doc_id,
                   {piv_cols}
            FROM fr GROUP BY doc_id
        ),
        doc_lines AS (
            SELECT doc_id,
                   UNNEST(list_filter(regexp_split_to_array(text, '\\n'),
                                      l -> trim(l) <> '')) AS line
            FROM {source_table}
        ),
        per_line AS (
            SELECT doc_id, line, COUNT(*) AS cnt
            FROM doc_lines GROUP BY doc_id, line
        ),
        line_agg AS (
            SELECT doc_id,
                   SUM(cnt) AS n_lines,
                   COUNT(*) AS n_distinct_lines,
                   SUM(cnt * length(line)) AS line_mass,
                   SUM((cnt - 1) * length(line)) AS dup_line_mass
            FROM per_line GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(n_lines, 0) AS BIGINT) AS n_lines,
               CAST(n_lines - n_distinct_lines AS DOUBLE) / n_lines
                   AS dup_line_frac,
               CAST(dup_line_mass AS DOUBLE) / line_mass
                   AS dup_line_char_frac,
               {out_top},
               {out_dup}
        FROM {source_table} d
        LEFT JOIN line_agg USING (doc_id)
        LEFT JOIN piv USING (doc_id)
    """


# --- corpus-weighted term importance (tf-idf family) ------------------------


def tfidf_top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k corpus-weighted terms per document.

    Score is the exact-rational tf-idf variant
    ``tf * n_docs / doc_freq`` (term count scaled by inverse document
    frequency, no logarithm): log-idf would force a transcendental
    through two engines' libm implementations, which agree only to ~1
    ulp — the rational form is a single double division of exact
    integers, so the DuckDB twin matches bit-for-bit. Ordering per doc
    is (score DESC, term ASC) with ``row_number`` — fully deterministic.

    100 TB design: three hash aggregations, all map-side-combining —
    (doc, term) counts collapse within the doc's partition, the
    vocabulary aggregation shuffles one row per distinct (doc, term),
    and the term-keyed join co-partitions two term-keyed sides (AQE
    broadcasts the vocabulary side when it is small). The final top-k
    is a per-doc ranking window, shuffled by doc_id — never a global
    sort. Documents with no tokens produce no rows (there is no term
    to rank), mirrored exactly by the oracle.
    """
    terms = documents.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.col("doc_freq").cast("long").alias("doc_freq"),
            (
                (F.col("tf") * F.col("n_docs")).cast("double")
                / F.col("doc_freq")
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "doc_freq",
            "score",
        )
    )


def tfidf_top_terms_oracle(k: int = 5, source_table: str = "documents") -> str:
    toks = _oracle_tokens("text")
    return f"""
        WITH terms AS (
            SELECT doc_id, UNNEST({toks}) AS term FROM {source_table}
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM terms GROUP BY doc_id, term
        ),
        docfreq AS (
            SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   CAST(docfreq.doc_freq AS BIGINT) AS doc_freq,
                   CAST(tf.tf * (SELECT COUNT(*) FROM {source_table})
                        AS DOUBLE) / docfreq.doc_freq AS score
            FROM tf JOIN docfreq USING (term)
        )
        SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
               CAST(tf AS BIGINT) AS tf, doc_freq, score
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term ASC
            ) AS rank
            FROM scored
        )
        WHERE rank <= {k}
    """
