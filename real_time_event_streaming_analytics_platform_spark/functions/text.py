"""Text-analysis operators for training-data pipelines over `documents`.

All tokenization happens JVM-side (split/filter/transform/regexp_*) so the
hot path stays inside whole-stage codegen — no Python UDFs. Each operator
is a single plan: scan → per-row expressions → (optionally) one aggregate
shuffle. At 100 TB these scale linearly with input; the only shuffle is
the token-count aggregation (partial map-side combine applies).

Queries: Q25 per-lang stats + top-20 tokens (SURVEY.md §2c), language-ID
heuristic, quality scoring, token counting (whitespace + BPE-ish), and a
rolling-hash fingerprint (xxhash64-based, no DuckDB twin → rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._shingle import WORDS_EXPR
from ..catalog import load
from ..plans.registry import query
from ..operators.helpers import (
    davg,
    quant6,
    round2,
    sql_davg,
    sql_quant6,
    sql_round2,
)

# tokens = non-empty runs of [a-z0-9] in the lowercased text (WORDS_EXPR)
_TOK_DUCK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w != '')"

_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "fr": ("le", "la", "les", "et", "un", "une", "des"),
    "de": ("der", "die", "das", "und", "ein", "ist", "zu"),
    "es": ("el", "la", "los", "las", "y", "un", "una"),
}


def _in_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# Q25 — per-language document stats.
# ---------------------------------------------------------------------------


@query(
    "q25_text_stats",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs, {sql_davg('n_chars')} AS avg_chars
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def q25_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_docs"), davg("n_chars").alias("avg_chars"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q25b — global top-20 tokens: explode → count → TakeOrderedAndProject
# (top-k heaps, no global sort).
# ---------------------------------------------------------------------------


@query(
    "q25b_top_tokens",
    oracle=f"""
    SELECT token, COUNT(*) AS n FROM (
        SELECT unnest({_TOK_DUCK}) AS token FROM documents
    ) GROUP BY 1 ORDER BY n DESC, token LIMIT 20
    """,
)
def q25b_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.expr(WORDS_EXPR)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# T1 — language-ID heuristic: per-language stopword hit counts, winner by
# deterministic priority. Integer comparisons only → exact across engines.
# ---------------------------------------------------------------------------


def _lang_counts_spark():
    return [
        F.expr(f"size(filter({WORDS_EXPR}, w -> w IN ({_in_list(ws)})))").alias(
            f"c_{lang}"
        )
        for lang, ws in _STOPWORDS.items()
    ]


def _t1_pred_col():
    """The stopword-vote winner expression (shared with t1b's
    agreement measurement in functions/langid.py)."""
    return (
        F.when(
            (F.col("c_en") > 0)
            & (F.col("c_en") >= F.col("c_fr"))
            & (F.col("c_en") >= F.col("c_de"))
            & (F.col("c_en") >= F.col("c_es")),
            "en",
        )
        .when(
            (F.col("c_fr") > 0)
            & (F.col("c_fr") >= F.col("c_de"))
            & (F.col("c_fr") >= F.col("c_es")),
            "fr",
        )
        .when((F.col("c_de") > 0) & (F.col("c_de") >= F.col("c_es")), "de")
        .when(F.col("c_es") > 0, "es")
        .otherwise("und")
    )


def heuristic_lang_pred(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_t1): t1's stopword-profile prediction as a frame —
    the weak-supervision / agreement baseline for the trained t1b."""
    return docs.select("doc_id", *_lang_counts_spark()).select(
        "doc_id", _t1_pred_col().alias("lang_t1")
    )


@query(
    "t1_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN c_en > 0 AND c_en >= c_fr AND c_en >= c_de AND c_en >= c_es THEN 'en'
                WHEN c_fr > 0 AND c_fr >= c_de AND c_fr >= c_es THEN 'fr'
                WHEN c_de > 0 AND c_de >= c_es THEN 'de'
                WHEN c_es > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM (
        SELECT doc_id, lang,
               len(list_filter({_TOK_DUCK}, w -> w IN ({_in_list(_STOPWORDS['en'])}))) AS c_en,
               len(list_filter({_TOK_DUCK}, w -> w IN ({_in_list(_STOPWORDS['fr'])}))) AS c_fr,
               len(list_filter({_TOK_DUCK}, w -> w IN ({_in_list(_STOPWORDS['de'])}))) AS c_de,
               len(list_filter({_TOK_DUCK}, w -> w IN ({_in_list(_STOPWORDS['es'])}))) AS c_es
        FROM documents
    ) ORDER BY doc_id
    """,
)
def t1_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", *_lang_counts_spark())
    return scored.select(
        "doc_id", "lang", _t1_pred_col().alias("lang_pred")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# T2 — quality scoring: token count, alpha-char density, stopword ratio,
# mean token length. Ratios round2-quantized on both engines.
# ---------------------------------------------------------------------------

_ALL_STOP = _in_list(w for ws in _STOPWORDS.values() for w in ws)


@query(
    "t2_quality_score",
    oracle=f"""
    SELECT doc_id, n_tokens,
           {sql_round2('alpha_chars / GREATEST(n_chars, 1)')} AS alpha_ratio,
           {sql_round2('stop_hits / GREATEST(n_tokens, 1)')} AS stop_ratio,
           {sql_round2('alpha_chars / GREATEST(n_tokens, 1)')} AS mean_tok_len
    FROM (
        SELECT doc_id, n_chars,
               len({_TOK_DUCK}) AS n_tokens,
               length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alpha_chars,
               len(list_filter({_TOK_DUCK}, w -> w IN ({_ALL_STOP}))) AS stop_hits
        FROM documents
    ) ORDER BY doc_id
    """,
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "n_chars",
        F.expr(f"size({WORDS_EXPR})").alias("n_tokens"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", "")).alias(
            "alpha_chars"
        ),
        F.expr(f"size(filter({WORDS_EXPR}, w -> w IN ({_ALL_STOP})))").alias(
            "stop_hits"
        ),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        round2(F.col("alpha_chars") / F.greatest("n_chars", F.lit(1))).alias(
            "alpha_ratio"
        ),
        round2(F.col("stop_hits") / F.greatest("n_tokens", F.lit(1))).alias(
            "stop_ratio"
        ),
        round2(F.col("alpha_chars") / F.greatest("n_tokens", F.lit(1))).alias(
            "mean_tok_len"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# T3 — token counting: whitespace tokens and a BPE-ish regex segmentation
# (letter runs | digit runs | single punctuation marks).
# ---------------------------------------------------------------------------

_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
# Spark SQL string literals consume one level of backslash escaping
# (unknown escapes drop the backslash: '\s' → 's'), DuckDB's do not —
# so the Spark-side literal needs its backslashes doubled.
_BPE_RE_SPARK = _BPE_RE.replace("\\", "\\\\")


@query(
    "t3_token_counts",
    oracle=f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '[ \t\n\r\f]+'), w -> w != '')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def t3_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        # explicit class, not \s: Java \s includes vertical tab U+000B,
        # RE2 (DuckDB) \s does not — an explicit class is engine-neutral.
        # Double-escaped so the REGEX engine (not the SQL literal parser)
        # interprets the escapes: Spark's literal parser maps unknown \f
        # to plain 'f', which would make the letter f a token separator.
        F.expr(
            "size(filter(split(text, '[ \\\\t\\\\n\\\\r\\\\f]+'), w -> w != ''))"
        ).alias("ws_tokens"),
        F.expr(f"size(regexp_extract_all(lower(text), '{_BPE_RE_SPARK}', 0))").alias(
            "bpe_tokens"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# T4 — document fingerprint: min/max/xor-fold of xxhash64 over word
# 4-grams (a winnowing-style rolling hash). xxhash64 has no DuckDB twin →
# registered rows-only; determinism asserted in tests/test_functions.py.
# ---------------------------------------------------------------------------


@query("t4_fingerprint")
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Bind tokens, then the gram-hash array, as columns: higher-order
    # lambdas are interpreted with no common-subexpression elimination,
    # so inlining the tokenizer in the lambda would re-split the text
    # once PER GRAM (O(words²)/row), and repeating the gram expression
    # under min/max/xor would build it three times.
    grams = F.expr(
        """
        transform(
            sequence(1, greatest(size(_toks) - 3, 1)),
            i -> xxhash64(concat_ws(' ', slice(_toks, i, 4))))
        """
    )
    return (
        docs.withColumn("_toks", F.expr(WORDS_EXPR))
        .withColumn("_grams", grams)
        .select(
            "doc_id",
            F.array_min("_grams").alias("fp_min"),
            F.array_max("_grams").alias("fp_max"),
            F.expr("aggregate(_grams, 0L, (acc, h) -> acc ^ h)").alias("fp_xor"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# T4b — winnowing fingerprint on an EXACT cross-engine rolling hash
# (Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for
# Document Fingerprinting", SIGMOD 2003). t4's xxhash64 has no DuckDB
# twin, so the fingerprint family held no hash-checked member; t4b
# swaps in a polynomial rolling hash mod the Mersenne prime 2^31-1 —
# every intermediate stays below 2^52, so BIGINT arithmetic is exact
# in both engines and the full pipeline (char-poly token hash →
# 4-token shingle hash → window-of-4 min selection → distinct
# fingerprint set) is DuckDB-recomputable value-for-value.
#
# Registered rows-only in r11 (the 50-slot driver window was exactly
# full); PROMOTED to oracle #100 at the r12 rotation per VERDICT r11
# #1 — T4B_ORACLE_SQL below is the registered driver oracle, and the
# full tuple-level local DuckDB differential still runs every session
# (tests/test_functions.py::test_t4b_matches_duckdb_differential).
#
# Plan shape: the fingerprint computation itself is one scan of
# per-row higher-order functions — no shuffle, no Python — linear at
# 100 TB and whole-stage-codegen'd. The registered query's trailing
# orderBy(doc_id) is a presentation-only range exchange over the
# already-reduced per-doc aggregate rows (one row per document), not
# part of the fingerprint pipeline (ADVICE r11).
# ---------------------------------------------------------------------------

_FP_M = 2147483647  # Mersenne prime 2^31 - 1
_FP_B1 = 131  # char-level base
_FP_B2 = 1000003  # shingle-level base (< 2^20: products stay < 2^51)
_FP_K = 4  # tokens per shingle
_FP_W = 4  # winnowing window, in shingles

# token hashes: h(w) = fold over chars of (a*B1 + ascii(c)) mod M
_FP_TH_SPARK = (
    f"transform({WORDS_EXPR}, w -> aggregate(split(w, ''), 0L,"
    f" (a, c) -> (a * {_FP_B1} + ascii(c)) % {_FP_M}))"
)
# shingle hashes: fold the K token hashes with base B2 mod M
_FP_G_SPARK = (
    f"transform(sequence(1, greatest(size(_th) - {_FP_K - 1}, 1)),"
    f" i -> aggregate(slice(_th, i, {_FP_K}), 0L,"
    f" (a, t) -> (a * {_FP_B2} + t) % {_FP_M}))"
)
# winnowing selection: min of each W-shingle window, distinct
_FP_SEL_SPARK = (
    f"array_distinct(transform(sequence(1, greatest(size(_g) - {_FP_W - 1}, 1)),"
    f" j -> array_min(slice(_g, j, {_FP_W}))))"
)

# The registered DuckDB oracle (promoted into engine.ORACLE at the r12
# rotation — see the registration comment above).
T4B_ORACLE_SQL = f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({_TOK_DUCK}, w ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
                       (a, c) -> (a * {_FP_B1} + c) % {_FP_M})) AS th
        FROM documents
    ), g AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(th) - {_FP_K - 1}, 1)), i ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(th, i, i + {_FP_K - 1})),
                       (a, t) -> (a * {_FP_B2} + t) % {_FP_M})) AS g
        FROM th
    ), sel AS (
        SELECT doc_id, len(g) AS n_grams,
               list_distinct(list_transform(generate_series(1, greatest(len(g) - {_FP_W - 1}, 1)), j ->
                   list_min(list_slice(g, j, j + {_FP_W - 1})))) AS sel
        FROM g
    )
    SELECT doc_id, n_grams, len(sel) AS n_fp,
           list_min(sel) AS fp_min, list_max(sel) AS fp_max,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), sel), (a, h) -> a + h) AS BIGINT) AS fp_sum
    FROM sel ORDER BY doc_id
    """


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): each doc's distinct winnowing-selected fingerprints,
    exploded — the join-able form for fingerprint-overlap candidate
    generation (two docs sharing a long substring share the shingle
    minima inside it, the Schleimer 2003 guarantee)."""
    return (
        docs.withColumn("_th", F.expr(_FP_TH_SPARK))
        .withColumn("_g", F.expr(_FP_G_SPARK))
        .withColumn("_sel", F.expr(_FP_SEL_SPARK))
        .select("doc_id", F.explode("_sel").alias("fp"))
    )


@query("t4b_fingerprint_winnow", oracle=T4B_ORACLE_SQL)
def t4b_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("_th", F.expr(_FP_TH_SPARK))
        .withColumn("_g", F.expr(_FP_G_SPARK))
        .withColumn("_sel", F.expr(_FP_SEL_SPARK))
        .select(
            "doc_id",
            F.expr("size(_g)").alias("n_grams"),
            F.expr("size(_sel)").alias("n_fp"),
            F.array_min("_sel").alias("fp_min"),
            F.array_max("_sel").alias("fp_max"),
            F.expr("aggregate(_sel, 0L, (a, h) -> a + h)").alias("fp_sum"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# T6 — repetition quality (Gopher/C4-style): duplicate-token fraction and
# most-frequent-token fraction per document. High values flag boilerplate
# and degenerate generations a pretraining corpus filters out. One per-row
# projection — no shuffle at all; ratios round2-quantized cross-engine.
# ---------------------------------------------------------------------------


@query(
    "t6_repetition",
    oracle=f"""
    SELECT doc_id, n_tokens,
           {sql_round2('(n_tokens - n_distinct) * 1.0 / GREATEST(n_tokens, 1)')} AS dup_frac,
           {sql_round2('top_count * 1.0 / GREATEST(n_tokens, 1)')} AS top_tok_frac,
           CAST(flagged AS BOOLEAN) AS flagged
    FROM (
        SELECT doc_id, n_tokens, n_distinct, top_count,
               ((n_tokens - n_distinct) * 1.0 / GREATEST(n_tokens, 1)) > 0.9 AS flagged
        FROM (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct,
                   COALESCE(list_max(list_transform(list_distinct(toks),
                       t -> len(list_filter(toks, x -> x = t)))), 0) AS top_count
            FROM (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents)
        )
    ) ORDER BY doc_id
    """,
)
def t6_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Top-token count via sort + run-length max: O(n log n) per row
    # instead of the O(distinct × n) rescans of a
    # transform(array_distinct, t -> size(filter(...))) form — a 1 M-token
    # document costs ~20 M comparisons, not ~10^12. Still strictly
    # per-row (no shuffle), still whole-stage-codegen'd.
    base = (
        docs.withColumn("_toks", F.expr(WORDS_EXPR))
        .select(
            "doc_id",
            F.expr("size(_toks)").alias("n_tokens"),
            F.expr("size(array_distinct(_toks))").alias("n_distinct"),
            F.expr(
                """aggregate(
                       array_sort(_toks),
                       named_struct('prev', cast(null as string),
                                    'run', 0, 'best', 0),
                       (acc, t) -> named_struct(
                           'prev', t,
                           'run', if(t <=> acc.prev, acc.run + 1, 1),
                           'best', greatest(acc.best,
                                            if(t <=> acc.prev, acc.run + 1, 1))),
                       acc -> acc.best)"""
            ).alias("top_count"),
        )
    )
    dup_frac = (F.col("n_tokens") - F.col("n_distinct")) * 1.0 / F.greatest(
        "n_tokens", F.lit(1)
    )
    return base.select(
        "doc_id",
        "n_tokens",
        round2(dup_frac).alias("dup_frac"),
        round2(
            F.col("top_count") * 1.0 / F.greatest("n_tokens", F.lit(1))
        ).alias("top_tok_frac"),
        (dup_frac > 0.9).alias("flagged"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# T5 — PII scrubbing: detect + redact email, phone, IPv4/IPv6, SSN, and
# Luhn-validated credit-card patterns — the filter a training corpus
# runs before anything ships to a tokenizer (surface extended per
# VERDICT r08 #6). Counting and replacement are JVM-side regex/array
# ops; the redacted text never leaves the executor — the output
# carries counts and a digest of the redacted content, so verification
# never shuffles documents.
#
# Credit cards are the one class a regex alone over-fires on (any 16
# digits), so candidates are validated with the Luhn checksum before
# counting or redaction — computed as an aggregate() over the reversed
# digit array entirely in integer arithmetic (JVM-side in Spark, the
# identical CASE ladder in DuckDB; Spark lambda indexes are 0-based,
# DuckDB's 1-based — the Spark form uses (i+1) to align). IPv6
# detection is pragmatic: ≥4 colon groups (full and most compressed
# forms) so 'hh:mm:ss' clock strings never false-positive; '::1'-style
# maximal compression is documented out of scope. Counts come from the
# ORIGINAL lowercased text; redaction chains cc → email → phone → ip4
# → ip6 → ssn (cc first so literal-string replaces see the unmodified
# digits), identically in both engines.
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z]{2,}"
_PHONE_RE = r"\d{3}[\-. ]\d{3}[\-. ]\d{4}"
_IP4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_IP6_RE = r"\b(?:[0-9a-f]{1,4}:){4,7}(?:[0-9a-f]{1,4}|:)"
_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
_CC_RE = r"\b\d{4}[ \-]?\d{4}[ \-]?\d{4}[ \-]?\d{4}\b"
# Spark SQL string literals eat one backslash level; DuckDB's don't.
_EMAIL_RE_SPARK = _EMAIL_RE.replace("\\", "\\\\")
_PHONE_RE_SPARK = _PHONE_RE.replace("\\", "\\\\")
_IP4_RE_SPARK = _IP4_RE.replace("\\", "\\\\")
_IP6_RE_SPARK = _IP6_RE.replace("\\", "\\\\")
_SSN_RE_SPARK = _SSN_RE.replace("\\", "\\\\")
_CC_RE_SPARK = _CC_RE.replace("\\", "\\\\")


def _luhn_ok_spark(c: str) -> str:
    """Spark SQL predicate: Luhn checksum of the digits in ``c`` is 0.

    transform() indexes are 0-based, so position-from-right = i+1;
    every even position (2nd, 4th, ... from the right) doubles with a
    9-subtraction carry — pure integer arithmetic, no UDF."""
    digits = (
        f"filter(split(reverse(regexp_replace({c}, '[^0-9]', '')), ''),"
        f" d -> d != '')"
    )
    return (
        f"(aggregate(transform({digits}, (d, i) -> "
        f"CASE WHEN (i + 1) % 2 = 0 THEN "
        f"CASE WHEN CAST(d AS INT) * 2 > 9 THEN CAST(d AS INT) * 2 - 9 "
        f"ELSE CAST(d AS INT) * 2 END "
        f"ELSE CAST(d AS INT) END), 0, (a, x) -> a + x) % 10) = 0"
    )


def _luhn_ok_duck(c: str) -> str:
    """DuckDB twin of the Luhn predicate (1-based lambda index)."""
    digits = (
        f"string_split_regex(reverse(regexp_replace({c}, '[^0-9]', '', 'g')), '')"
    )
    return (
        f"(list_sum(list_transform({digits}, (d, i) -> "
        f"CASE WHEN i % 2 = 0 THEN "
        f"CASE WHEN CAST(d AS INT) * 2 > 9 THEN CAST(d AS INT) * 2 - 9 "
        f"ELSE CAST(d AS INT) * 2 END "
        f"ELSE CAST(d AS INT) END)) % 10) = 0"
    )


# Luhn-valid credit-card candidate list over the lowercased text.
_CC_VALID_SPARK = (
    f"filter(regexp_extract_all(lower(text), '{_CC_RE_SPARK}', 0), "
    f"c -> {_luhn_ok_spark('c')})"
)
_CC_VALID_DUCK = (
    f"list_filter(regexp_extract_all(lower(text), '{_CC_RE}', 0), "
    f"c -> {_luhn_ok_duck('c')})"
)


def scrub_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ip4, n_ip6, n_ssn, n_cc,
    clean_digest): count each PII class in the lowercased text, redact
    all of them (cc → email → phone → ip4 → ip6 → ssn), and digest the
    result."""
    cc_redacted = (
        f"aggregate({_CC_VALID_SPARK}, lower(text), "
        f"(acc, c) -> replace(acc, c, '<CC>'))"
    )
    redacted = cc_redacted
    for pat, tag in (
        (_EMAIL_RE_SPARK, "<EMAIL>"),
        (_PHONE_RE_SPARK, "<PHONE>"),
        (_IP4_RE_SPARK, "<IP>"),
        (_IP6_RE_SPARK, "<IP6>"),
        (_SSN_RE_SPARK, "<SSN>"),
    ):
        redacted = f"regexp_replace({redacted}, '{pat}', '{tag}')"

    def n(pat, alias):
        return F.expr(
            f"size(regexp_extract_all(lower(text), '{pat}', 0))"
        ).alias(alias)

    return docs.select(
        "doc_id",
        n(_EMAIL_RE_SPARK, "n_emails"),
        n(_PHONE_RE_SPARK, "n_phones"),
        n(_IP4_RE_SPARK, "n_ip4"),
        n(_IP6_RE_SPARK, "n_ip6"),
        n(_SSN_RE_SPARK, "n_ssn"),
        F.expr(f"size({_CC_VALID_SPARK})").alias("n_cc"),
        F.expr(f"md5({redacted})").alias("clean_digest"),
    )


# ---------------------------------------------------------------------------
# T7 — chunk-level boilerplate dedup (C4-style): split each document into
# non-overlapping CHUNK_WORDS-word units, hash them, and remove every
# occurrence of a chunk that appears in ≥ HOT_DOCS distinct documents
# (headers/footers/licence blocks in a real corpus). Same shape as line-
# level dedup — the unit is a fixed word window because the synthetic
# corpus has no newlines; swap the chunker for split(text, '\n') on real
# data and nothing else changes.
#
# Scale shape: the explode emits (doc_id, 16-byte chunk hash) — text never
# shuffles. Hot chunks are found with one map-side-combined aggregate;
# the hot set is tiny by construction (only chunks repeated across ≥3
# docs) so the flag-back join broadcasts. Per-doc removal counts are then
# one aggregate on doc_id.
# ---------------------------------------------------------------------------

CHUNK_WORDS = 8
HOT_DOCS = 3


@query(
    "t7_chunk_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_TOK_DUCK} AS words FROM documents),
    c AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(0, CAST(floor(len(words) / {CHUNK_WORDS}.0) AS INT) - 1),
                   i -> md5(array_to_string(
                            words[i * {CHUNK_WORDS} + 1 : i * {CHUNK_WORDS} + {CHUNK_WORDS}],
                            ' ')))) AS ch
        FROM w WHERE len(words) >= {CHUNK_WORDS}
    ),
    hot AS (SELECT ch FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= {HOT_DOCS}),
    removed AS (
        SELECT doc_id, COUNT(*) AS n_removed FROM c JOIN hot USING (ch) GROUP BY 1
    )
    SELECT w.doc_id,
           CAST(floor(len(w.words) / {CHUNK_WORDS}.0) AS BIGINT) AS n_chunks,
           COALESCE(r.n_removed, 0) AS n_removed,
           COALESCE(r.n_removed, 0) = 0 AS clean
    FROM w LEFT JOIN removed r USING (doc_id)
    ORDER BY doc_id
    """,
)
def t7_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    words = docs.withColumn("_words", F.expr(WORDS_EXPR)).select(
        "doc_id",
        "_words",
        F.expr(f"size(_words) div {CHUNK_WORDS}").alias("n_chunks"),
    )
    # Guard the short-doc case: sequence(0, -1) in Spark yields the
    # DESCENDING [0, -1] (step defaults to -1), not an empty array.
    pos = F.expr(
        "CASE WHEN n_chunks < 1 THEN array() ELSE sequence(0L, n_chunks - 1) END"
    )
    chunks = words.select(
        "doc_id", F.explode(pos).alias("_i"), "_words"
    ).select(
        "doc_id",
        F.md5(
            F.expr(
                f"concat_ws(' ', slice(_words, CAST(_i * {CHUNK_WORDS} + 1 AS INT), {CHUNK_WORDS}))"
            )
        ).alias("ch"),
    )
    hot = (
        chunks.groupBy("ch")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .where(F.col("_nd") >= HOT_DOCS)
        .select("ch")
    )
    removed = (
        chunks.join(F.broadcast(hot), "ch")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_removed"))
    )
    return (
        words.select("doc_id", F.col("n_chunks").cast("bigint").alias("n_chunks"))
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            (F.coalesce("n_removed", F.lit(0)) == 0).alias("clean"),
        )
        .orderBy("doc_id")
    )


def _t5_oracle() -> str:
    # redaction chain: cc (fold over Luhn-valid candidates) → email →
    # phone → ip4 → ip6 → ssn, mirroring scrub_pii exactly.
    cc_red = (
        f"list_reduce(list_prepend(lower(text), {_CC_VALID_DUCK}), "
        f"(acc, c) -> replace(acc, c, '<CC>'))"
    )
    red = cc_red
    for pat, tag in (
        (_EMAIL_RE, "<EMAIL>"),
        (_PHONE_RE, "<PHONE>"),
        (_IP4_RE, "<IP>"),
        (_IP6_RE, "<IP6>"),
        (_SSN_RE, "<SSN>"),
    ):
        red = f"regexp_replace({red}, '{pat}', '{tag}', 'g')"
    return f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(lower(text), '{_PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(lower(text), '{_IP4_RE}')) AS n_ip4,
           len(regexp_extract_all(lower(text), '{_IP6_RE}')) AS n_ip6,
           len(regexp_extract_all(lower(text), '{_SSN_RE}')) AS n_ssn,
           len({_CC_VALID_DUCK}) AS n_cc,
           md5({red}) AS clean_digest
    FROM documents ORDER BY doc_id
    """


@query("t5_pii_scrub", oracle=_t5_oracle())
def t5_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_pii(load(spark, sf_dir, "documents")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# T8 — fuzzy (edit-distance) dedup with prefix blocking: the classic
# entity-resolution shape the hash/MinHash family cannot express — x2's
# shingle Jaccard sees token-set overlap, but only an edit-distance
# comparator certifies "doc B is doc A with a 4-character typo". Blocking
# key = the first 60 characters: candidate pairs exist ONLY inside a
# block, so the full O(n²) comparison space collapses to the within-block
# pairs (the same discipline as x2's LSH bands). A row_number cap (50 per
# block) bounds the worst case: a pathological corpus where one prefix
# (boilerplate header, empty docs) covers millions of rows would
# otherwise make a single block quadratic — identical to the LSH
# hot-bucket cap at dedup.py:106. Scale: one shuffle on the 60-byte
# prefix; levenshtein runs JVM-side inside codegen; at 100 TB the text
# payload shuffles once and only blocked pairs are compared.
# ---------------------------------------------------------------------------

_FUZZY_PFX = 60  # blocking-key length
_FUZZY_CAP = 50  # max docs compared per block


@query(
    "t8_fuzzy_dedup",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, n_chars, substr(text, 1, {_FUZZY_PFX}) AS pfx
        FROM documents
    ),
    capped AS (
        SELECT doc_id, text, n_chars, pfx FROM (
            SELECT d.*, row_number() OVER (PARTITION BY pfx ORDER BY doc_id) AS rn
            FROM d
        ) WHERE rn <= {_FUZZY_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM capped a JOIN capped b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) * 10 <= greatest(a.n_chars, b.n_chars)
    ORDER BY doc_a, doc_b
    """,
)
def t8_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "text", "n_chars", F.substring("text", 1, _FUZZY_PFX).alias("pfx")
    )
    w = Window.partitionBy("pfx").orderBy("doc_id")
    capped = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _FUZZY_CAP)
        .drop("rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    ed = F.levenshtein(F.col("a.text"), F.col("b.text"))
    # The edit-distance predicate goes INTO the join condition, AFTER the
    # cheap conjuncts: Spark evaluates a hash join's non-equi residual
    # left-to-right per matching-key pair, and a separate .where() gets
    # merged in FRONT of the doc_id ordering test — which ran the O(len²)
    # levenshtein against every same-prefix pair including the n self-
    # pairs (measured 3× slower at sf0.1). With doc_id< first, only the
    # surviving ordered pairs pay the DP.
    return (
        a.join(
            b,
            (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ed * 10 <= F.greatest(F.col("a.n_chars"), F.col("b.n_chars"))),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ed.cast("bigint").alias("edit_dist"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# T9 — BM25 keyword retrieval (Robertson/Spärck Jones; the scoring
# function behind Lucene/Elasticsearch relevance — SURVEY.md §2a O8 notes
# the reference stack provisions Elasticsearch but never queries it; this
# is the engine-native twin of that capability). Spark-first shape: with
# a FIXED query-term set the inverted index degenerates to one corpus
# aggregate — per-doc term frequencies come from `size(filter(toks, ...))`
# projections (no explode, no per-token shuffle), the single-row corpus
# stats (N, Σdl, per-term df) broadcast back over the scan, and the
# top-20 selection is orderBy+limit (TakeOrderedAndProject — per-partition
# heaps, no global sort). Cross-engine float discipline: scores are
# quantized (quant6) BEFORE ranking and rounded (round2) for output, so
# the ln() ULP gap between java.lang.Math.log and libm cannot flip the
# rank boundary; doc_id breaks exact ties deterministically.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window", "hash")
_BM25_K = 20  # result size


def _bm25_sql_component(t: str) -> str:
    return (
        f"(CASE WHEN tf_{t} > 0 THEN "
        f"ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1) * (tf_{t} * 2.2) "
        f"/ (tf_{t} + 1.2 * (0.25 + 0.75 * (dl / avgdl))) "
        f"ELSE 0.0 END)"
    )


@query(
    "t9_bm25_search",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK_DUCK} AS toks FROM documents),
    t AS (
        SELECT doc_id, len(toks) AS dl,
               {", ".join(f"len(list_filter(toks, w -> w = '{t}')) AS tf_{t}" for t in _BM25_TERMS)}
        FROM tok
    ),
    c AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {", ".join(f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS)}
        FROM t
    ),
    s AS (
        SELECT doc_id,
               {" + ".join(_bm25_sql_component(t) for t in _BM25_TERMS)} AS score
        FROM t, c
    ),
    q AS (SELECT doc_id, {sql_quant6('score')} AS qs FROM s),
    r AS (
        SELECT doc_id, qs,
               row_number() OVER (ORDER BY qs DESC, doc_id) AS rank
        FROM q
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, {sql_round2('qs')} AS bm25
    FROM r WHERE rank <= {_BM25_K} ORDER BY rank
    """,
)
def t9_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(WORDS_EXPR).alias("toks"))
    t = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            F.expr(f"size(filter(toks, w -> w = '{term}'))").alias(
                f"tf_{term}"
            )
            for term in _BM25_TERMS
        ],
    )
    c = t.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{term}") > 0).cast("bigint")).alias(f"df_{term}")
            for term in _BM25_TERMS
        ],
    )

    def component(term: str):
        tf = F.col(f"tf_{term}")
        df = F.col(f"df_{term}")
        idf = F.log(
            (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1)
        )
        denom = tf + F.lit(1.2) * (
            F.lit(0.25) + F.lit(0.75) * (F.col("dl") / F.col("avgdl"))
        )
        return F.when(tf > 0, idf * (tf * F.lit(2.2)) / denom).otherwise(F.lit(0.0))

    score = component(_BM25_TERMS[0])
    for term in _BM25_TERMS[1:]:
        score = score + component(term)

    topk = (
        t.crossJoin(F.broadcast(c))
        .select("doc_id", quant6(score).alias("qs"))
        .orderBy(F.desc("qs"), "doc_id")
        .limit(_BM25_K)
    )
    w = Window.orderBy(F.desc("qs"), "doc_id")
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("rank", "doc_id", round2("qs").alias("bm25"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# T6b — the Gopher repetition-rule battery (Rae et al. 2021, §A1.1):
# duplicate line / paragraph fractions by COUNT and by CHARACTER MASS,
# top-{2,3,4}-gram character fractions, symbol-to-word ratio,
# bullet-start / ellipsis-end line fractions, alphabetic-word fraction,
# mean word length, and word-count bounds — the full quality-filter
# rule set production corpora run after t6's simpler dup/top-token
# screen. Reference analog: extends the validity/error filter family
# (O10/O11) to document-quality predicates.
#
# "Lines" and "paragraphs": the synthetic corpus is single-line
# word-soup (no '\n'), so — exactly like t7's chunker — the dup-line
# unit is a non-overlapping LINE_WORDS-word window and the dup-para
# unit a PARA_WORDS-word window; swap in split(text, '\n') /
# split(text, '\n\n') on real data and nothing else changes. The
# bullet/ellipsis rules DO run on true '\n'-split raw lines (they test
# line shape, not repetition).
#
# Cross-engine determinism: every fraction is ONE IEEE division of
# exact integers (counts and character masses), so Spark and DuckDB
# agree bit-for-bit and the rule thresholds compare identically — no
# quantization needed before flagging; the 1e-4 rounding on output is
# display-only. Spark computes run-length stats over each sorted array
# in O(n log n) per row (the t6 discipline); the DuckDB twin uses the
# O(distinct·n) list_filter form — different algorithm, identical
# integers.
#
# Scale shape: pure per-row column expressions — scan → project →
# sort by doc_id. No shuffle, no UDF; linear in corpus size.
# ---------------------------------------------------------------------------

LINE_WORDS = 10  # dup-"line" unit (word window; '\n' on real data)
PARA_WORDS = 30  # dup-"paragraph" unit

# Gopher §A1.1 thresholds
_G_DUP_LINE = 0.30
_G_DUP_PARA = 0.30
_G_DUP_LINE_CH = 0.20
_G_DUP_PARA_CH = 0.20
_G_TOP2 = 0.20
_G_TOP3 = 0.18
_G_TOP4 = 0.16
_G_SYMBOL = 0.10
_G_BULLET = 0.90
_G_ELLIPSIS = 0.30
_G_ALPHA = 0.80
_G_WLEN_LO, _G_WLEN_HI = 3.0, 10.0
_G_NWORDS_LO, _G_NWORDS_HI = 50, 100_000

# RE2/Java-compatible patterns (single-backslash form = what the regex
# engine sees; Spark SQL string literals eat one level, so the _SPARK
# twins double them — the t5 discipline).
_SYMBOL_RE = "#|\\.\\.\\.|…"
_BULLET_RE = "^\\s*[-*•‣▪]"
_ELLIPSIS_RE = "(\\.\\.\\.|…)\\s*$"
_ALPHA_RE = "[A-Za-z]"
_SYMBOL_RE_SPARK = _SYMBOL_RE.replace("\\", "\\\\")
_BULLET_RE_SPARK = _BULLET_RE.replace("\\", "\\\\")
_ELLIPSIS_RE_SPARK = _ELLIPSIS_RE.replace("\\", "\\\\")


def _win_expr(n: int) -> str:
    """Non-overlapping n-word window strings over the bound _toks."""
    return (
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(0L, size(_toks) div {n} - 1), "
        f"i -> concat_ws(' ', slice(_toks, CAST(i * {n} + 1 AS INT), {n}))) "
        f"ELSE array() END"
    )


def _gram_expr(n: int) -> str:
    """Overlapping word n-gram strings over the bound _toks."""
    return (
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(1, size(_toks) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_toks, i, {n}))) "
        f"ELSE array() END"
    )


def _dup_stats(col: str) -> str:
    """struct(dups, dupch, tot): occurrences beyond the first of each
    distinct value (count + char mass) and total char mass, via one
    run-length pass over the sorted array."""
    return f"""aggregate(
        array_sort({col}),
        named_struct('prev', cast(null as string),
                     'dups', 0L, 'dupch', 0L, 'tot', 0L),
        (acc, x) -> named_struct(
            'prev', x,
            'dups', acc.dups + if(x <=> acc.prev, 1L, 0L),
            'dupch', acc.dupch + if(x <=> acc.prev,
                                    CAST(length(x) AS BIGINT), 0L),
            'tot', acc.tot + CAST(length(x) AS BIGINT)),
        acc -> named_struct('dups', acc.dups, 'dupch', acc.dupch,
                            'tot', acc.tot))"""


def _top_mass(col: str) -> str:
    """Max over distinct values of count·char_length — the character
    mass of the most repetition-heavy n-gram (ties collapse: max is
    over the products, not over who owns them)."""
    return f"""aggregate(
        array_sort({col}),
        named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
        (acc, x) -> named_struct(
            'prev', x,
            'run', if(x <=> acc.prev, acc.run + 1L, 1L),
            'best', greatest(acc.best,
                             if(x <=> acc.prev, acc.run + 1L, 1L)
                             * CAST(length(x) AS BIGINT))),
        acc -> acc.best)"""


def _duck_win(n: int) -> str:
    return (
        f"list_transform(generate_series(0, len(toks) // {n} - 1), "
        f"i -> array_to_string(toks[i * {n} + 1 : i * {n} + {n}], ' '))"
    )


def _duck_gram(n: int) -> str:
    return (
        f"list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> array_to_string(toks[i : i + {n - 1}], ' '))"
    )


def _duck_chars(lst: str) -> str:
    return f"COALESCE(list_aggregate(list_transform({lst}, x -> length(x)), 'sum'), 0)"


def _duck_top_mass(lst: str) -> str:
    return (
        f"COALESCE(list_max(list_transform(list_distinct({lst}), "
        f"x -> len(list_filter({lst}, y -> y = x)) * length(x))), 0)"
    )


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Per-document Gopher rule statistics + the combined reject flag."""
    raw = _gopher_raw(docs, ["doc_id"])

    def r4(c):
        return F.floor(F.col(c) * 10000 + F.lit(0.5)) / 10000

    return raw.select(
        "doc_id",
        "n_words",
        "n_lines",
        r4("_dlf").alias("dup_line_frac"),
        r4("_dlc").alias("dup_line_char_frac"),
        r4("_dpf").alias("dup_para_frac"),
        r4("_dpc").alias("dup_para_char_frac"),
        r4("_t2").alias("top2_char_frac"),
        r4("_t3").alias("top3_char_frac"),
        r4("_t4").alias("top4_char_frac"),
        r4("_sym").alias("symbol_ratio"),
        r4("_bul").alias("bullet_line_frac"),
        r4("_ell").alias("ellipsis_line_frac"),
        r4("_alpha").alias("alpha_word_frac"),
        r4("_wlen").alias("mean_word_len"),
        _gopher_flag().alias("gopher_flagged"),
    )


def with_gopher_flag(df: DataFrame) -> DataFrame:
    """Append ``gopher_flagged`` to ``df`` with every original column
    carried — pure per-row column algebra (no shuffle, no UDF), so the
    same expression tree serves the batch funnel's optional reject
    stage AND the streaming curation pipeline (S32 parity)."""
    carry = list(df.columns)
    raw = _gopher_raw(df, carry)
    return raw.select(*carry, _gopher_flag().alias("gopher_flagged"))


def _gopher_flag() -> F.Column:
    """The combined reject predicate over _gopher_raw's fraction cols."""
    return (
        (F.col("_dlf") > _G_DUP_LINE)
        | (F.col("_dpf") > _G_DUP_PARA)
        | (F.col("_dlc") > _G_DUP_LINE_CH)
        | (F.col("_dpc") > _G_DUP_PARA_CH)
        | (F.col("_t2") > _G_TOP2)
        | (F.col("_t3") > _G_TOP3)
        | (F.col("_t4") > _G_TOP4)
        | (F.col("_sym") > _G_SYMBOL)
        | (F.col("_bul") > _G_BULLET)
        | (F.col("_ell") > _G_ELLIPSIS)
        | (F.col("_alpha") < _G_ALPHA)
        | (F.col("_wlen") < _G_WLEN_LO)
        | (F.col("_wlen") > _G_WLEN_HI)
        | (F.col("n_words") < _G_NWORDS_LO)
        | (F.col("n_words") > _G_NWORDS_HI)
    )


def _gopher_raw(docs: DataFrame, carry: list) -> DataFrame:
    """(carry..., n_words, n_lines, rule fractions): the shared rule
    computation behind gopher_rules / with_gopher_flag."""
    bound = (
        docs.withColumn("_toks", F.expr(WORDS_EXPR))
        .withColumn("_ws", F.expr("filter(split(text, '\\\\s+'), w -> w != '')"))
        .withColumn("_rl", F.expr("split(text, '\\n')"))
        .withColumn("_ln", F.expr(_win_expr(LINE_WORDS)))
        .withColumn("_pa", F.expr(_win_expr(PARA_WORDS)))
        .withColumn("_g2", F.expr(_gram_expr(2)))
        .withColumn("_g3", F.expr(_gram_expr(3)))
        .withColumn("_g4", F.expr(_gram_expr(4)))
    )
    stats = bound.select(
        *carry,
        F.expr("CAST(size(_toks) AS BIGINT)").alias("n_words"),
        F.expr("CAST(size(_ln) AS BIGINT)").alias("n_lines"),
        F.expr("CAST(size(_pa) AS BIGINT)").alias("n_paras"),
        F.expr(f"({_dup_stats('_ln')})").alias("_lns"),
        F.expr(f"({_dup_stats('_pa')})").alias("_pas"),
        F.expr(f"({_top_mass('_g2')})").alias("_m2"),
        F.expr(f"({_top_mass('_g3')})").alias("_m3"),
        F.expr(f"({_top_mass('_g4')})").alias("_m4"),
        F.expr("CAST(GREATEST(length(text), 1) AS BIGINT)").alias("_nch"),
        F.expr(
            f"CAST(size(regexp_extract_all(text, '{_SYMBOL_RE_SPARK}', 0)) AS BIGINT)"
        ).alias("_nsym"),
        F.expr("CAST(size(_ws) AS BIGINT)").alias("_nws"),
        F.expr(
            f"CAST(size(filter(_ws, w -> w rlike '{_ALPHA_RE}')) AS BIGINT)"
        ).alias("_nalpha"),
        F.expr(
            f"CAST(size(filter(_rl, l -> l rlike '{_BULLET_RE_SPARK}')) AS BIGINT)"
        ).alias("_nbul"),
        F.expr(
            f"CAST(size(filter(_rl, l -> l rlike '{_ELLIPSIS_RE_SPARK}')) AS BIGINT)"
        ).alias("_nell"),
        F.expr("CAST(size(_rl) AS BIGINT)").alias("_nrl"),
        F.expr(
            "CAST(aggregate(_toks, 0L, (a, w) -> a + length(w)) AS BIGINT)"
        ).alias("_tokch"),
    )

    def frac(num, den):
        return F.col(num) / F.greatest(F.col(den), F.lit(1))

    return stats.select(
        *carry,
        "n_words",
        "n_lines",
        frac("_lns.dups", "n_lines").alias("_dlf"),
        (F.col("_lns.dupch") / F.greatest("_lns.tot", F.lit(1))).alias("_dlc"),
        frac("_pas.dups", "n_paras").alias("_dpf"),
        (F.col("_pas.dupch") / F.greatest("_pas.tot", F.lit(1))).alias("_dpc"),
        frac("_m2", "_nch").alias("_t2"),
        frac("_m3", "_nch").alias("_t3"),
        frac("_m4", "_nch").alias("_t4"),
        frac("_nsym", "_nws").alias("_sym"),
        frac("_nbul", "_nrl").alias("_bul"),
        frac("_nell", "_nrl").alias("_ell"),
        frac("_nalpha", "_nws").alias("_alpha"),
        frac("_tokch", "n_words").alias("_wlen"),
    )


def _gopher_oracle() -> str:
    r4 = lambda x: f"floor(({x}) * 10000 + 0.5) / 10000"  # noqa: E731
    fr = lambda n, d: f"(CAST({n} AS DOUBLE) / GREATEST({d}, 1))"  # noqa: E731
    raws = {
        "_dlf": fr("ln_n - ln_d", "ln_n"),
        "_dlc": fr("ln_tc - ln_dc", "ln_tc"),
        "_dpf": fr("pa_n - pa_d", "pa_n"),
        "_dpc": fr("pa_tc - pa_dc", "pa_tc"),
        "_t2": fr("m2", "nch"),
        "_t3": fr("m3", "nch"),
        "_t4": fr("m4", "nch"),
        "_sym": fr("nsym", "nws"),
        "_bul": fr("nbul", "nrl"),
        "_ell": fr("nell", "nrl"),
        "_alpha": fr("nalpha", "nws"),
        "_wlen": fr("tokch", "n_words"),
    }
    flag = (
        f"({raws['_dlf']} > {_G_DUP_LINE:.2f}E0 OR {raws['_dpf']} > {_G_DUP_PARA:.2f}E0"
        f" OR {raws['_dlc']} > {_G_DUP_LINE_CH:.2f}E0 OR {raws['_dpc']} > {_G_DUP_PARA_CH:.2f}E0"
        f" OR {raws['_t2']} > {_G_TOP2:.2f}E0 OR {raws['_t3']} > {_G_TOP3:.2f}E0"
        f" OR {raws['_t4']} > {_G_TOP4:.2f}E0 OR {raws['_sym']} > {_G_SYMBOL:.2f}E0"
        f" OR {raws['_bul']} > {_G_BULLET:.2f}E0 OR {raws['_ell']} > {_G_ELLIPSIS:.2f}E0"
        f" OR {raws['_alpha']} < {_G_ALPHA:.2f}E0"
        f" OR {raws['_wlen']} < {_G_WLEN_LO}E0 OR {raws['_wlen']} > {_G_WLEN_HI}E0"
        f" OR n_words < {_G_NWORDS_LO} OR n_words > {_G_NWORDS_HI})"
    )
    return f"""
    WITH base AS (
        SELECT doc_id, text, {_TOK_DUCK} AS toks,
               list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS ws,
               string_split(text, chr(10)) AS rl
        FROM documents
    ),
    arrays AS (
        SELECT doc_id, text, toks, ws, rl,
               {_duck_win(LINE_WORDS)} AS ln,
               {_duck_win(PARA_WORDS)} AS pa,
               {_duck_gram(2)} AS g2,
               {_duck_gram(3)} AS g3,
               {_duck_gram(4)} AS g4
        FROM base
    ),
    stats AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(len(ln) AS BIGINT) AS ln_n,
               CAST(len(list_distinct(ln)) AS BIGINT) AS ln_d,
               {_duck_chars('ln')} AS ln_tc,
               {_duck_chars('list_distinct(ln)')} AS ln_dc,
               CAST(len(pa) AS BIGINT) AS pa_n,
               CAST(len(list_distinct(pa)) AS BIGINT) AS pa_d,
               {_duck_chars('pa')} AS pa_tc,
               {_duck_chars('list_distinct(pa)')} AS pa_dc,
               {_duck_top_mass('g2')} AS m2,
               {_duck_top_mass('g3')} AS m3,
               {_duck_top_mass('g4')} AS m4,
               GREATEST(length(text), 1) AS nch,
               len(regexp_extract_all(text, '{_SYMBOL_RE}', 0)) AS nsym,
               len(ws) AS nws,
               len(list_filter(ws, w -> regexp_matches(w, '{_ALPHA_RE}'))) AS nalpha,
               len(list_filter(rl, l -> regexp_matches(l, '^\\s*[-*•‣▪]'))) AS nbul,
               len(list_filter(rl, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS nell,
               len(rl) AS nrl,
               COALESCE(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) AS tokch
        FROM arrays
    )
    SELECT doc_id, n_words, ln_n AS n_lines,
           {r4(raws['_dlf'])} AS dup_line_frac,
           {r4(raws['_dlc'])} AS dup_line_char_frac,
           {r4(raws['_dpf'])} AS dup_para_frac,
           {r4(raws['_dpc'])} AS dup_para_char_frac,
           {r4(raws['_t2'])} AS top2_char_frac,
           {r4(raws['_t3'])} AS top3_char_frac,
           {r4(raws['_t4'])} AS top4_char_frac,
           {r4(raws['_sym'])} AS symbol_ratio,
           {r4(raws['_bul'])} AS bullet_line_frac,
           {r4(raws['_ell'])} AS ellipsis_line_frac,
           {r4(raws['_alpha'])} AS alpha_word_frac,
           {r4(raws['_wlen'])} AS mean_word_len,
           {flag} AS gopher_flagged
    FROM stats ORDER BY doc_id
    """


@query("t6b_gopher_rules", oracle=_gopher_oracle())
def t6b_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules(load(spark, sf_dir, "documents")).orderBy("doc_id")
