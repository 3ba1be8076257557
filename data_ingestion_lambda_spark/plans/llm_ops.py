"""LLM-training-data pipeline operators: text analysis + deduplication.

North-star extensions (SURVEY §2.11, BASELINE.json) — no reference
implementation exists; these are first-class operators over `documents`.

Implementation strategy: everything here is *Catalyst higher-order
functions* (transform/filter/aggregate over arrays) — JVM-side, codegen,
zero Python UDFs. That is what makes the same code viable at 100 TB:
tokenization, shingling, hashing, MinHash signatures and SimHash bits all
run inside the scan's whole-stage pipeline; only candidate-pair joins
shuffle, and those are LSH-bucketed (band join / bucket join), never
all-pairs.

Determinism: all hashes are explicit polynomial hashes mod 1e9+7 over
codepoints (identical arithmetic in the DuckDB oracles) — no engine hash()
functions, whose implementations differ.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.plans.registry import pin, register
from data_ingestion_lambda_spark.plans._util import t

P = 1_000_000_007  # polynomial-hash modulus
NUM_HASHES = 16  # MinHash signature length
NUM_BANDS = 4  # LSH bands (4 rows each)
POW2 = [1 << k for k in range(32)]  # SimHash bit values

# ---------------------------------------------------------------------------
# shared Spark-side building blocks
# ---------------------------------------------------------------------------


def bind(expr: Column, fn) -> Column:
    """let-binding for column expressions: evaluate ``expr`` ONCE per row and
    pass it to ``fn`` as a lambda variable.

    Without this, composing helpers in Python duplicates the expression
    *tree* — e.g. every ``element_at(tokens(text), i)`` embeds its own copy
    of the regex split, so a 50-shingle doc re-tokenizes itself 150 times.
    Lambda variables are evaluated once, restoring O(n) per row (measured:
    200x on the shingle pipeline at sf0.1)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def tokens(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.split(F.trim(col), r"\s+")


def polyhash(s: Column) -> Column:
    """h = fold(chars, acc*31 + codepoint) mod P — exact integer arithmetic,
    reproducible in any engine (unlike xxhash64/murmur)."""
    codes = F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(codes, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % P)


def shingles3(w_expr: Column) -> Column:
    """Distinct word 3-gram shingles (w_expr bound once per row)."""

    def _sh(w: Column) -> Column:
        n = F.size(w)
        sh = F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
            ),
        )
        return F.when(n >= 3, F.array_distinct(sh)).otherwise(F.array().cast("array<string>"))

    return bind(w_expr, _sh)


# SQL twins (DuckDB) of the helpers above — kept adjacent for review.
SQL_TOKENS = r"string_split_regex(trim(text), '\s+')"
SQL_POLYHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(a, b) -> (a * 31 + b) % 1000000007)"
)
SQL_SHINGLES3 = (
    "list_distinct(list_transform(generate_series(1, len(w) - 2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct_tokens,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w) AS avg_token_len
    FROM (SELECT doc_id, text, {SQL_TOKENS} AS w FROM documents)
    """,
    tags=("llm", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer): counts, type-token ratio,
    average token length. Pure codegen — scales with the scan."""
    d = t(spark, sf_dir, "documents")
    w = tokens("text")
    return d.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
        (F.size(F.array_distinct(w)).cast("double") / F.size(w)).alias("type_token_ratio"),
        (
            F.length(F.regexp_replace("text", r"\s", "")).cast("double") / F.size(w)
        ).alias("avg_token_len"),
    )


# GPT-2-style pre-tokenizer shape: letter runs | digit runs | single
# non-space symbol. Java regex (Spark) and RE2 (DuckDB) agree on this
# pattern including the \p{L}/\p{N} unicode classes (probed on
# mixed-script samples).
_BPE_PATTERN = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]"


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_bpe_tokens,
           CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct_bpe,
           CAST(len(list_filter(w, x -> regexp_full_match(x, '\\p{{L}}+'))) AS INTEGER) AS n_word_tokens,
           CAST(len(list_filter(w, x -> regexp_full_match(x, '\\p{{N}}+'))) AS INTEGER) AS n_number_tokens,
           CAST(len(w) - len(list_filter(w, x -> regexp_full_match(x, '\\p{{L}}+')))
                  - len(list_filter(w, x -> regexp_full_match(x, '\\p{{N}}+'))) AS INTEGER) AS n_symbol_tokens
    FROM (SELECT doc_id, regexp_extract_all(text, '{_BPE_PATTERN}') AS w FROM documents)
    """,
    tags=("llm", "text"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs /
    digit runs / single symbols — the GPT-2 pre-split shape), alongside
    the whitespace counts in text_token_stats. Pure codegen regex."""
    d = t(spark, sf_dir, "documents")

    def counts(w: Column) -> list[Column]:
        n = F.size(w)
        n_word = F.size(F.filter(w, lambda x: x.rlike(r"^\p{L}+$")))
        n_num = F.size(F.filter(w, lambda x: x.rlike(r"^\p{N}+$")))
        return [
            n.alias("n_bpe_tokens"),
            F.size(F.array_distinct(w)).alias("n_distinct_bpe"),
            n_word.alias("n_word_tokens"),
            n_num.alias("n_number_tokens"),
            (n - n_word - n_num).alias("n_symbol_tokens"),
        ]

    w = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
    return d.select("doc_id", *counts(w))


_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "los", "y"),
    "fr": ("le", "la", "les", "et", "des"),
    "zh": ("的", "是", "不", "了", "在"),
}
_LANG_ORDER = ("en", "de", "es", "fr", "zh")


def _marker_score(w: Column, lang: str) -> Column:
    marks = _LANG_MARKERS[lang]
    return F.size(F.filter(w, lambda x: x.isin(*marks)))


def _sql_marker_score(lang: str) -> str:
    in_list = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
    # INTEGER matches Spark's F.size output (int32) for the dtype gate.
    return f"CAST(len(list_filter(w, x -> x IN ({in_list}))) AS INTEGER)"


@register(
    "text_language_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {_sql_marker_score('en')} AS score_en,
               {_sql_marker_score('de')} AS score_de,
               {_sql_marker_score('es')} AS score_es,
               {_sql_marker_score('fr')} AS score_fr,
               {_sql_marker_score('zh')} AS score_zh
        FROM (SELECT doc_id, lang, {SQL_TOKENS} AS w FROM documents)
    )
    SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
           CASE WHEN score_en = g THEN 'en' WHEN score_de = g THEN 'de'
                WHEN score_es = g THEN 'es' WHEN score_fr = g THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM (SELECT *, greatest(score_en, score_de, score_es, score_fr, score_zh) AS g
          FROM scored)
    """,
    tags=("llm", "text"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: per-language marker hit counts, argmax
    with a fixed priority order (en > de > es > fr > zh on ties)."""
    d = t(spark, sf_dir, "documents")
    w = tokens("text")
    scored = d.select(
        "doc_id",
        "lang",
        *[_marker_score(w, lang).alias(f"score_{lang}") for lang in _LANG_ORDER],
    )
    g = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_ORDER])
    pred = F.when(F.col("score_en") == g, "en")
    for lang in _LANG_ORDER[1:-1]:
        pred = pred.when(F.col(f"score_{lang}") == g, lang)
    return scored.withColumn("pred_lang", pred.otherwise("zh"))


_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(w, x -> x IN ({", ".join(f"'{s}'" for s in _EN_STOPWORDS)}))) AS DOUBLE) / len(w) AS stopword_ratio,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio,
           CAST(length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
           (len(w) >= 20 AND len(w) <= 2000
            AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) >= 0.15) AS passes_quality
    FROM (SELECT doc_id, text, {SQL_TOKENS} AS w FROM documents)
    """,
    tags=("llm", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio, type-token ratio, alpha
    ratio, and a boolean gate — the standard pre-training filter shape."""
    return quality_table(t(spark, sf_dir, "documents"))


def quality_table(d: DataFrame) -> DataFrame:
    """text_quality_score's row-local arithmetic over any (doc_id, text)
    frame — the per-batch form the incremental corpus-build runner scores
    each day's drop with (same expressions, so batch verdicts can never
    drift from the registered lane's)."""
    w = tokens("text")
    n = F.size(w)
    ttr = F.size(F.array_distinct(w)).cast("double") / n
    stop = F.size(F.filter(w, lambda x: x.isin(*_EN_STOPWORDS))).cast("double") / n
    alpha = F.length(F.regexp_replace("text", "[^a-z ]", "")).cast("double") / F.length("text")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        stop.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        alpha.alias("alpha_ratio"),
        ((n >= 20) & (n <= 2000) & (ttr >= 0.15)).alias("passes_quality"),
    )


from pyspark.sql.types import (  # noqa: E402
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_FP_STRUCT = StructType(
    [
        StructField("rolling_hash", LongType()),
        StructField("min_shingle_md5", StringType()),
    ]
)


@F.pandas_udf(_FP_STRUCT)
def _fingerprint_batch(texts):
    """Arrow-vectorized twin of (polyhash(text), min(md5(shingle))) for
    texts of >= 16 chars — guide §4.2: the JVM form runs both as
    interpreted higher-order lambdas (~300 substring+md5 evals per doc;
    measured: the shingle build alone was 1.5 s of the lane's 2.4 s at
    sf0.1), while hashlib.md5 is C and the rolling fold is exact Python
    integer arithmetic. Provably identical values: md5 hex of the same
    UTF-8 bytes, min over the same shingle set (ASCII-hex order ==
    UTF8 binary order), and the fold (acc*31 + codepoint) %% P over the
    same codepoints (F.ascii == ord on every unicode char; Python ints
    cannot overflow, the JVM long never does for P ~ 1e9). Docs shorter
    than 16 chars return (None, None) here and take the original JVM
    expressions via the length guard in text_fingerprint — bit-equal
    behavior for EVERY input, not just this corpus."""
    import hashlib

    import pandas as pd

    rolls, mins = [], []
    for t_ in texts:
        if t_ is None or len(t_) < 16:
            rolls.append(None)
            mins.append(None)
            continue
        acc = 0
        for ch in t_:
            acc = (acc * 31 + ord(ch)) % P
        b = t_.encode("utf-8")
        # ASCII-only fast path: byte offsets == char offsets, one encode
        if len(b) == len(t_):
            mn = min(
                hashlib.md5(b[i : i + 16]).hexdigest() for i in range(len(b) - 15)
            )
        else:
            mn = min(
                hashlib.md5(t_[i : i + 16].encode("utf-8")).hexdigest()
                for i in range(len(t_) - 15)
            )
        rolls.append(acc)
        mins.append(mn)
    return pd.DataFrame({"rolling_hash": rolls, "min_shingle_md5": mins})


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS md5_full,
           {SQL_POLYHASH.format(s='text')} AS rolling_hash,
           list_aggregate(list_transform(generate_series(1, length(text) - 15),
                                         i -> md5(substr(text, i, 16))), 'min') AS min_shingle_md5
    FROM documents
    """,
    tags=("llm", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-text digest, rolling polynomial hash,
    and a winnowing-style min-hash over 16-char shingles — the hot loops
    vectorized through Arrow (see _fingerprint_batch; 2.36 -> ~0.6 s at
    sf0.1), with the original JVM expressions kept as the short-doc
    fallback so semantics are unchanged for any input."""
    d = t(spark, sf_dir, "documents")
    char_shingles = F.expr("transform(sequence(1, length(text) - 15), i -> substring(text, i, 16))")
    long_enough = F.length("text") >= 16
    fp = _fingerprint_batch(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("md5_full"),
        F.when(long_enough, fp["rolling_hash"])
        .otherwise(polyhash(F.col("text")))
        .alias("rolling_hash"),
        F.when(long_enough, fp["min_shingle_md5"])
        .otherwise(
            F.array_min(F.transform(char_shingles, lambda s: F.md5(s.cast("binary"))))
        )
        .alias("min_shingle_md5"),
    )


# ---------------------------------------------------------------------------
# Python mirrors of tokens()/polyhash for the Arrow-vectorized twins
# (guide §4.2, r15). VERDICT r14 flagged the hand-mirrored tokenizer/hash
# loops inside each pandas UDF as a drift hazard — the mirror now lives
# HERE, once, and every twin (fingerprint/decon/repetition from r14, the
# minhash/simhash/jaccard/dsir twins from r15) shares it. The equivalence
# argument, written once:
#   - re.ASCII \s+ == Java's default \s on ASCII input (same char class,
#     including the leading empty element split(re, -1) produces when the
#     text starts with residual non-space whitespace);
#   - str.strip(' ') == F.trim (spaces only);
#   - ord(ch) == F.ascii(ch) for every ASCII char; non-ASCII rows stay on
#     the JVM path via the octet_length == length guards (Java split('')
#     is UTF-16-unit-wise, Python iterates codepoints);
#   - the folds are the same exact integers: Python ints cannot overflow
#     and the JVM long never does for P ~ 1e9.
# tests/test_twin_equivalence.py pins fast slice == JVM slice bit for bit
# over an adversarial generated corpus for the minhash, simhash and
# repetition twins (and non-ASCII rows on minhash's JVM slice); the
# fingerprint, shingles62, decon and dsir twins are not covered there.
# ---------------------------------------------------------------------------

_WS_ASCII_RE = None  # compiled once per Python worker (guide §4.5)


def _py_tokens(text: str) -> list[str]:
    """tokens() mirror for ASCII strings (see block comment above)."""
    global _WS_ASCII_RE
    if _WS_ASCII_RE is None:
        import re

        _WS_ASCII_RE = re.compile(r"\s+", re.ASCII)
    return _WS_ASCII_RE.split(text.strip(" "))


def _py_tok_h31(toks: list[str], cache: dict) -> list[int]:
    """polyhash() per token, memoized across the batch — token
    vocabularies are Zipfian, so the dict turns the per-char fold into a
    lookup for all but the first occurrence of each token."""
    out = []
    for tok in toks:
        h = cache.get(tok)
        if h is None:
            h = 0
            for ch in tok:
                h = (h * 31 + ord(ch)) % P
            cache[tok] = h
        out.append(h)
    return out


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition a NARROW derived table (signatures, fingerprints —
    a few longs per row) to the session's shuffle-partition count before
    it is pinned. The row-local Arrow twins removed the explode+groupBy
    exchanges, but that exchange was also what spread the cached table
    across tasks: on single-row-group input (the local testdata) the
    fast slice inherits the scan's ONE partition and every downstream
    self-join runs serial (measured: the simhash block join 0.42 s over
    a 32-partition cache vs 2.0 s over a 1-partition one). Shuffling
    doc_id + a few longs is strictly cheaper than the per-occurrence
    explode shuffle it replaces; the count follows
    spark.sql.shuffle.partitions (core count locally, cluster-sized in
    production), so nothing is pinned to the local shape. Hash (not
    round-robin) partitioning avoids the sort-before-repartition pass
    and keeps the layout deterministic under retries (guide §2.5)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def _py_tok_h_pair(toks: list[str], cache: dict) -> tuple[list[int], list[int]]:
    """(polyhash, polyhash131) per token in ONE char pass, memoized."""
    h1s, h2s = [], []
    for tok in toks:
        pair = cache.get(tok)
        if pair is None:
            a = b = 0
            for ch in tok:
                o = ord(ch)
                a = (a * 31 + o) % P
                b = (b * 131 + o) % P
            cache[tok] = pair = (a, b)
        h1s.append(pair[0])
        h2s.append(pair[1])
    return h1s, h2s


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_text",
    oracle="""
    SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies,
           MIN(n_chars) AS n_chars
    FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one canonical survivor (min doc_id) per
    distinct text. Hash-groupBy — the 100 TB shape (shuffle on a 16-byte
    digest, never on the document body)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("_h"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .drop("_h")
    )


@register(
    "dedup_incremental_exact",
    oracle="""
    WITH hist AS (SELECT doc_id, md5(text) AS _h FROM documents),
    batch AS (SELECT doc_id + 1000000 AS doc_id, md5(text) AS _h
              FROM documents WHERE doc_id % 17 = 0)
    SELECT n.doc_id AS new_doc,
           CAST(MIN(o.doc_id) AS BIGINT) AS dup_of,
           CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM batch n JOIN hist o ON n._h = o._h
    GROUP BY n.doc_id
    """,
    tags=("llm", "dedup", "incremental"),
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash incremental dedup — the FIRST gate a daily ingest runs
    (before any near-dup lane): incoming docs whose content digest
    already exists in the historical corpus get flagged with the
    earliest holder and the match count. The synthetic corpus carries
    zero exact duplicates (verified — dedup_exact_text's n_copies are
    all 1), so like text_pii_scrub's injected markers the batch is
    MODELED non-vacuously as a RE-CRAWL: every 17th doc arrives again
    under a new id (+1,000,000) with byte-identical content — the
    textbook case this gate exists for — and each must resolve to
    exactly its original (pinned by the hash check over ~1/17th of the
    corpus). One digest equi-join: the batch ships 16-byte hashes
    against the persisted digest index; text never shuffles. Completes
    the incremental trio with dedup_incremental_minhash /
    dedup_incremental_embedding."""
    d = t(spark, sf_dir, "documents")
    hist = d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("_h"))
    batch = (
        d.filter(F.col("doc_id") % 17 == 0)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.md5(F.col("text").cast("binary")).alias("_h"),
        )
        .alias("n")
    )
    return (
        batch.join(hist.alias("o"), F.col("n._h") == F.col("o._h"))
        .groupBy(F.col("n.doc_id").alias("new_doc"))
        .agg(
            F.min(F.col("o.doc_id")).cast("long").alias("dup_of"),
            F.count("*").alias("n_matches"),
        )
    )


_JACCARD_THRESHOLD = 0.8
# Skew guard: a shingle appearing in more documents than the DF cap is
# boilerplate (license headers, templates) and is dropped before the pair
# join. The inverted-index join is O(df²) per shingle — one shingle shared
# by 1M docs is a 10¹² pair blowup at 100 TB. Jaccard is then computed over
# the capped (informative) shingle vocabulary in BOTH engines.
#
# The cap is SCALE-AWARE: c(N) = clamp(ceil(CMAX·√(N0/N)), CMIN, CMAX),
# the production knob every Jaccard deployment turns as the corpus grows.
# Candidate pairs from the inverted index are ≤ shingle-occurrences·c
# ∝ N·c(N) = CMAX·√(N0·N) — √N candidate growth BY CONSTRUCTION instead of
# linear, which is what kept this the fastest-growing headliner at 100×.
# CMIN floors recall: true near-dup pairs share RARE shingles (df ≪ 20),
# so tightening the cap sheds only template vocabulary. At N ≤ N0 the
# clamp holds c at CMAX, so small-corpus results (all gate SFs) are
# byte-identical to the previous constant-cap behavior.
_SHINGLE_DF_CAP_MAX = 100
_SHINGLE_DF_CAP_MIN = 20
_SHINGLE_DF_REF_DOCS = 5000


def shingle_df_cap(n_docs: int) -> int:
    """The scale-aware boilerplate-shingle DF cap (see block comment above).
    Pure f(corpus doc count), computed identically by the Spark plan (driver
    side, from a metadata-only parquet count) and the DuckDB oracle (inline
    SQL on the same COUNT(*)) — same IEEE double sqrt/ceil, so the engines
    always agree on the threshold."""
    if n_docs <= 0:
        return _SHINGLE_DF_CAP_MAX
    raw = math.ceil(_SHINGLE_DF_CAP_MAX * math.sqrt(_SHINGLE_DF_REF_DOCS / n_docs))
    return max(_SHINGLE_DF_CAP_MIN, min(_SHINGLE_DF_CAP_MAX, raw))


# The same formula as inline SQL — LEAST/GREATEST/CEIL/SQRT over the
# corpus COUNT(*), so the oracle derives the identical cap from the data.
_SQL_SHINGLE_DF_CAP = (
    f"SELECT LEAST({_SHINGLE_DF_CAP_MAX}, GREATEST({_SHINGLE_DF_CAP_MIN}, "
    f"CAST(CEIL({_SHINGLE_DF_CAP_MAX} * SQRT({_SHINGLE_DF_REF_DOCS}.0 / COUNT(*))) "
    "AS BIGINT))) FROM documents"
)


def shingle_hashes62(w_expr: Column) -> Column:
    """Distinct word-3-gram shingle identities as 62-bit integers: two
    INDEPENDENT polynomial hashes (char multipliers 31/131 at the token
    level, swapped 131/31 at the shingle-combine level, both mod P)
    packed as ``h1·P + h2`` < 2⁶². A false shingle identity needs BOTH
    hashes to collide (~10⁻¹⁸ per pair — zero expected through petabyte
    vocabularies), and every shuffle/sort/intersection downstream moves
    8-byte longs instead of ~25-byte strings — the reason the jaccard
    lane runs on these instead of the literal shingle text. Exact
    integer arithmetic throughout (worst intermediate (P−1)·131 + P;
    the pack (P−1)·P + P−1 < 2⁶²), reproducible in any engine.

    Each token is hashed ONCE per hash family and 3-gram hashes combine
    arithmetically (the minhash_sig_table trick — ~100× cheaper than
    re-hashing every char of every shingle). The whole pipeline is one
    let-bound expression (bind): explode's InferFiltersFromGenerate +
    projection collapse would otherwise re-evaluate the token-hash
    pipeline once per element_at reference."""

    def from_w(w: Column) -> Column:
        th1 = F.transform(w, lambda s: polyhash(s))
        # second family: char multiplier 131 (polyhash131's formula)
        th2 = F.transform(
            w,
            lambda s: F.aggregate(
                F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * 131 + x) % P,
            ),
        )

        def combine(t1: Column, t2: Column) -> Column:
            n = F.size(t1)
            sh = F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - 2),
                    lambda i: (
                        (
                            (F.element_at(t1, i) * 131 + F.element_at(t1, i + 1))
                            % P
                            * 131
                            + F.element_at(t1, i + 2)
                        )
                        % P
                    )
                    * P
                    + (
                        (F.element_at(t2, i) * 31 + F.element_at(t2, i + 1))
                        % P
                        * 31
                        + F.element_at(t2, i + 2)
                    )
                    % P,
                )
            )
            return F.when(n >= 3, sh).otherwise(F.array().cast("array<bigint>"))

        return bind(th1, lambda t1: bind(th2, lambda t2: combine(t1, t2)))

    return bind(w_expr, from_w)


# SQL twins: identical arithmetic over the same token lists. (_SQL_TH31
# matches the minhash lane's _SQL_TOKEN_HASHES, restated here because
# that constant is defined further down the module.)
_SQL_TH31 = f"list_transform(w, s -> {SQL_POLYHASH.format(s='s')})"
_SQL_TH131 = (
    "list_transform(w, s -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(a, b) -> (a * 131 + b) % {P}))"
)
SQL_SHINGLE_HASHES62 = (
    "list_distinct(list_transform(generate_series(1, len(th1) - 2), "
    f"i -> (((th1[i] * 131 + th1[i+1]) % {P} * 131 + th1[i+2]) % {P}) * {P} "
    f"+ ((th2[i] * 31 + th2[i+1]) % {P} * 31 + th2[i+2]) % {P}))"
)


@F.pandas_udf(ArrayType(LongType()))
def _shingles62_batch(texts):
    """Arrow-vectorized twin of ``shingle_hashes62(tokens(text))`` for
    ASCII texts of >= 3 tokens (guide §4.2; r15 — VERDICT r14 top-next:
    the interpreted token-polyhash family). Two memoized char folds per
    distinct token (_py_tok_h_pair), then the 3-gram combine + 62-bit
    pack vectorized in numpy over the whole token array; dict.fromkeys
    preserves array_distinct's first-occurrence order. Max intermediate
    (P-1)*131 + (P-1) ~ 1.3e11 and the pack (P-1)*P + P-1 < 2^62 both
    fit int64, so numpy arithmetic is the same exact integers as the JVM
    fold. Rows outside the guard return None here and take the original
    JVM expression via the when/otherwise in dedup_ngram_jaccard."""
    import numpy as np
    import pandas as pd

    cache: dict = {}
    out = []
    for t_ in texts:
        if t_ is None or not t_.isascii():
            out.append(None)
            continue
        toks = _py_tokens(t_)
        if len(toks) < 3:
            out.append(None)
            continue
        h1l, h2l = _py_tok_h_pair(toks, cache)
        h1 = np.array(h1l, dtype=np.int64)
        h2 = np.array(h2l, dtype=np.int64)
        a = ((h1[:-2] * 131 + h1[1:-1]) % P * 131 + h1[2:]) % P
        b = ((h2[:-2] * 31 + h2[1:-1]) % P * 31 + h2[2:]) % P
        out.append(list(dict.fromkeys((a * P + b).tolist())))
    return pd.Series(out)


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    th AS (SELECT doc_id, {_SQL_TH31} AS th1, {_SQL_TH131} AS th2 FROM toks),
    sh AS (SELECT doc_id, {SQL_SHINGLE_HASHES62} AS shingles FROM th),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    hot AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) > ({_SQL_SHINGLE_DF_CAP})),
    exf AS (SELECT doc_id, s FROM ex WHERE s NOT IN (SELECT s FROM hot)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM exf GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= {_JACCARD_THRESHOLD}
    """,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: word 3-gram shingle sets, exact Jaccard ≥ 0.8,
    via PREFIX-FILTERED set-similarity join (the AllPairs / PPJoin family:
    Bayardo et al. WWW'07, Xiao et al. WWW'08) — same output as a naive
    inverted-index join, a fraction of its candidates. Shingle identity
    is the 62-bit double-polynomial hash (shingle_hashes62) computed
    identically by both engines, so the whole lane — df counts, sort
    order, prefixes, intersections — moves 8-byte longs, never shingle
    text.

    Exactness argument (why the oracle needs no knowledge of this plan):
    order the capped vocabulary by rarity (df ASC, shingle ASC). For
    J(a,b) ≥ τ the overlap I satisfies I·(1+τ) ≥ τ·(n_a+n_b) ≥
    τ·(max+I), so I ≥ τ·max(n_a,n_b). The SMALLEST shared shingle (in
    that order) therefore sits within the first n−⌈τ·n⌉+1 positions of
    BOTH docs' sorted sets — so indexing only that prefix still surfaces
    every qualifying pair, and the final exact verification (sorted-set
    intersection) computes the same jaccard the one-relation join did.

    Scale levers, in the order they bite:
    - SCALE-AWARE df cap shingle_df_cap(N) (√(1/N) decay — see its block
      comment) bounds the WORST-case per-shingle fanout;
    - prefix filtering bounds the AVERAGE: only each doc's ⌊0.2·n⌋+1
      RAREST shingles are indexed, so the candidate join meets on the
      rare tail of the vocabulary (measured at 100×/500k docs: 112M
      naive candidates → ~0.5M prefix candidates);
    - the exact integer length filter 5·min(n_a,n_b) ≥ 4·max (τ=4/5)
      prunes size-incompatible pairs inside the join condition;
    - verification is an array_intersect over the two ~50-element
      per-doc arrays — codegen, no per-shingle rows.
    All thresholds use exact integer arithmetic (DIV, 5·min ≥ 4·max) —
    a float ⌈0.8·n⌉ can land one ulp short and silently drop true pairs.
    Jaccard is over the capped vocabulary, identically in the DuckDB
    oracle (which derives the same cap from the same COUNT(*))."""
    d = t(spark, sf_dir, "documents")
    cap = shingle_df_cap(d.count())
    # Persisted: the exploded occurrences feed BOTH the df aggregation and
    # the df-attach join — without this the tokenize+hash scan (the single
    # most expensive stage) runs twice. At 100 TB this is the written-once
    # shingle-hash table every dedup lane shares.
    # r15 (guide §4.2): ASCII docs with >= 3 tokens build their shingle
    # array in the Arrow twin (_shingles62_batch — the interpreted
    # two-family char fold was the lane's dominant term); everything else
    # keeps the ORIGINAL JVM expression via the when/otherwise, so the
    # pinned table holds identical arrays for any input.
    w = tokens("text")
    fast = (F.octet_length("text") == F.length("text")) & (F.size(w) >= 3)
    sh = d.select(
        "doc_id",
        F.when(fast, _shingles62_batch(F.col("text")))
        .otherwise(shingle_hashes62(w))
        .alias("shingles"),
    ).transform(pin)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count("*").alias("df"))
    # df attach + cap filter in one equi-join; dfreq comes out of the
    # groupBy already hash-partitioned by s, so the join reuses that
    # exchange for its build side.
    exdf = ex.join(dfreq, "s").filter(F.col("df") <= F.lit(cap))
    # Per-doc sorted set in global rarity order, with its prefix. This
    # (doc_id, ss, n, prefix) relation is the only thing referenced
    # downstream (prefix index + both verification sides) — persisted,
    # ~n_docs rows of one small array each. At 100 TB it is a written-once
    # table, exactly like the MinHash signature table.
    docs = (
        exdf.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("oss"))
        .select(
            "doc_id",
            F.transform("oss", lambda x: x["s"]).alias("ss"),
            F.size("oss").alias("n"),
        )
        .withColumn(
            # prefix length n − ⌈τ·n⌉ + 1 for τ = 4/5, in exact integers
            "p", (F.col("n") - F.expr("(4*n + 4) DIV 5") + 1).cast("int")
        )
        .withColumn("prefix", F.slice("ss", 1, F.col("p")))
        .transform(pin)
    )
    pre = docs.select("doc_id", "n", F.explode("prefix").alias("s"))
    a = pre.alias("a")
    b = pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # exact length filter: J ≥ 4/5 needs 5·min ≥ 4·max
            & (F.least("a.n", "b.n") * 5 >= F.greatest("a.n", "b.n") * 4),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = docs.alias("da")
    db = docs.alias("db")
    inter = F.size(F.array_intersect(F.col("da.ss"), F.col("db.ss")))
    jac = inter.cast("double") / (F.col("da.n") + F.col("db.n") - inter)
    return (
        cand.join(da, F.col("doc_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_b") == F.col("db.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Character-level near-duplicates: edit-distance similarity join
# ---------------------------------------------------------------------------

_EDIT_MAX = 8  # pairs kept when levenshtein(a, b) <= 8
_EDIT_Q = 3  # character q-gram length
_EDIT_PREFIX = _EDIT_Q * _EDIT_MAX + 1  # 25: prefix-index items per doc
_EDIT_CODE_BASE = 1 << 21  # codepoint radix: 3 codepoints pack into < 2^63
# Docs with <= q*d + q - 1 chars have <= q*d q-grams, where the overlap
# bound max_grams - q*d is <= 0 and the prefix filter guarantees nothing;
# they go through a broadcast all-pairs guard instead, against partners
# within the +d length window.
_EDIT_SHORT_DOC = _EDIT_Q * _EDIT_MAX + _EDIT_Q - 1  # 26 chars
_EDIT_SHORT_PARTNER = _EDIT_SHORT_DOC + _EDIT_MAX  # 34 chars


def char_grams_packed(text_col: Column) -> Column:
    """Character 3-grams as EXACT 63-bit integers, with multiplicity: each
    codepoint is a base-2^21 digit (every Unicode codepoint < 2^21, and
    (2^21-1)·2^42 + (2^21-1)·2^21 + 2^21-1 = 2^63-1), so the packing is a
    collision-free bijection — gram identity downstream is exact, not a
    hash. One HOF pipeline per row (let-bound char-code array), codegen."""

    def from_codes(cs: Column) -> Column:
        n = F.size(cs)
        g = F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: (
                F.element_at(cs, i) * _EDIT_CODE_BASE + F.element_at(cs, i + 1)
            )
            * _EDIT_CODE_BASE
            + F.element_at(cs, i + 2),
        )
        return F.when(n >= 3, g).otherwise(F.array().cast("array<bigint>"))

    codes = F.transform(F.split(text_col, ""), lambda ch: F.ascii(ch).cast("long"))
    return bind(codes, from_codes)


def char_grams4_hashed62(text_col: Column) -> Column:
    """Character 4-gram identities as 62-bit integers. Four 21-bit
    codepoints exceed one long, so exact packing stops at q = 3; the
    q = 4 lane uses the jaccard family's trick instead — two INDEPENDENT
    polynomial hashes over the 4 codepoints (multipliers 31 / 131, both
    mod P) packed as ``h1·P + h2`` < 2⁶². A hash collision merges two
    gram identities, which can only ADD candidate pairs — a true shared
    gram always shares its hash — so the prefix-filter completeness
    argument survives hashing verbatim (the naive oracle's hash-match is
    the proof); a false candidate costs one banded levenshtein and is
    discarded. Same let-bound one-pass HOF shape as char_grams_packed."""

    def from_codes(cs: Column) -> Column:
        n = F.size(cs)

        def fam(mult: int, i: Column) -> Column:
            return (
                (
                    (F.element_at(cs, i) * mult + F.element_at(cs, i + 1)) % P * mult
                    + F.element_at(cs, i + 2)
                )
                % P
                * mult
                + F.element_at(cs, i + 3)
            ) % P

        g = F.transform(
            F.sequence(F.lit(1), n - 3),
            lambda i: fam(31, i) * P + fam(131, i),
        )
        return F.when(n >= 4, g).otherwise(F.array().cast("array<bigint>"))

    codes = F.transform(F.split(text_col, ""), lambda ch: F.ascii(ch).cast("long"))
    return bind(codes, from_codes)


def _edit_distance_plan(d: DataFrame, grams: Column, q: int) -> DataFrame:
    """Shared prefix-filtered edit-distance join, parameterized by gram
    length q — the operator's documented scale knob made code: longer
    grams have exponentially lower df, so per-gram bucket occupancy (and
    with it candidate-pair volume) collapses as the corpus grows, at the
    price of q·d+1 indexed occurrences per doc instead of 3·d+1. All
    thresholds derive from (q, d): each edit changes ≤ q gram
    occurrences, so the prefix is the q·d+1 rarest items and docs with
    ≤ q·d + q − 1 chars take the broadcast guard lane."""
    prefix_len = q * _EDIT_MAX + 1
    short_doc = q * _EDIT_MAX + q - 1
    short_partner = short_doc + _EDIT_MAX
    occ = (
        d.select("doc_id", "n", F.explode(grams).alias("g"))
        .groupBy("doc_id", "n", "g")
        .agg(F.count("*").alias("cnt"))
    )
    dfreq = occ.groupBy("g").agg(F.count("*").alias("df"))
    items = occ.join(dfreq, "g").select(
        "doc_id", "n", "g", "df", F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("k")
    )
    # per-doc prefix in global (df, g, k) order — sort_array on structs is
    # lexicographic, so one collect+slice, no window. Persisted: both
    # sides of the candidate self-join read it. At 100 TB it is a
    # written-once index table, exactly like the jaccard lane's prefix
    # relation.
    prefix = (
        items.groupBy("doc_id", "n")
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("df", "g", "k"))), 1, prefix_len
            ).alias("pref")
        )
        .select("doc_id", "n", F.explode("pref").alias("it"))
        .select("doc_id", "n", F.col("it.g").alias("g"), F.col("it.k").alias("k"))
        .transform(pin)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.k") == F.col("b.k"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.n") - F.col("b.n")) <= _EDIT_MAX),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    shorts = d.filter(F.col("n") <= short_doc).select(
        F.col("doc_id").alias("sid"), F.col("n").alias("sn")
    )
    partners = d.filter(F.col("n") <= short_partner).select(
        F.col("doc_id").alias("pid"), F.col("n").alias("pn")
    )
    guard = (
        partners.join(
            F.broadcast(shorts),
            (F.col("sid") != F.col("pid"))
            & (F.abs(F.col("sn") - F.col("pn")) <= _EDIT_MAX),
        )
        .select(
            F.least("sid", "pid").alias("doc_a"), F.greatest("sid", "pid").alias("doc_b")
        )
    )
    cand_all = cand.unionByName(guard).distinct()
    da, db = d.alias("da"), d.alias("db")
    ed = F.levenshtein(F.col("da.text"), F.col("db.text"), _EDIT_MAX)
    return (
        cand_all.join(da, F.col("doc_a") == F.col("da.doc_id"))
        .join(db, F.col("doc_b") == F.col("db.doc_id"))
        .select("doc_a", "doc_b", ed.cast("int").alias("edit_distance"))
        .filter(F.col("edit_distance") >= 0)
    )


_EDIT_ORACLE = f"""
    SELECT doc_a, doc_b, edit_distance FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_distance
        FROM documents a JOIN documents b
          ON a.doc_id < b.doc_id
         AND abs(length(a.text) - length(b.text)) <= {_EDIT_MAX}
    ) WHERE edit_distance <= {_EDIT_MAX}
    """


@register(
    "dedup_edit_distance",
    oracle=_EDIT_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: exact Levenshtein distance ≤ 8 via a
    prefix-filtered q-gram similarity join (the Ed-Join / q-gram count
    filter family: Gravano et al. VLDB'01, Xiao et al. VLDB'08) — the
    character-edit sibling of dedup_ngram_jaccard's token-set join,
    catching the near-dup class token sets miss (typo/OCR-level mutations
    that break token identity but move few characters).

    The oracle is deliberately NAIVE (length-filtered all-pairs +
    levenshtein): it encodes only the operator's CONTRACT, so the
    hash-match proves the prefix-filtered plan loses no pair.

    Exactness argument: each edit operation changes at most q = 3 gram
    OCCURRENCES (grams are position-free, so an indel's shift leaves all
    non-overlapping gram contents intact), hence ed(a,b) ≤ d implies
    multiset gram overlap ≥ max(g_a, g_b) − q·d. Encoding the multiset as
    items (gram, k), k = 1..count, overlap is plain set intersection, and
    the standard prefix-filter theorem (any fixed global item order) says
    the first g_x − t + 1 ≤ q·d + 1 = 25 items of EACH side must share an
    item. So indexing each doc's 25 globally-rarest gram-occurrences
    (df ASC, gram ASC, k ASC) surfaces every qualifying pair; candidates
    then pass the |Δlen| ≤ d filter inside the join and are verified with
    the banded built-in levenshtein(a, b, 8) — O(d·n) per pair, JVM-side.
    Docs too short for the bound (≤ 26 chars) take a broadcast all-pairs
    guard lane against partners ≤ 34 chars — a degenerate, skew-bounded
    slice at corpus scale (empty on this corpus; the lane exists for
    correctness, costs one broadcast of a near-empty frame).

    Scale shape: the only wide state is (doc_id, gram, k) longs — 25
    indexed items per doc regardless of doc length; candidate generation
    is an equi-join on (gram, k) meeting on the rare tail of the gram
    vocabulary (boilerplate grams have high df and fall PAST the prefix,
    so skew self-resolves — no DF cap needed for correctness); text rides
    only the final per-candidate verify join. The gram-length scale knob
    is CODE, not prose: dedup_edit_distance_q4 is the same plan at q = 4
    (see _edit_distance_plan)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    return _edit_distance_plan(d, char_grams_packed(F.col("text")), _EDIT_Q)


@register(
    "dedup_edit_distance_q4",
    oracle=_EDIT_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_edit_distance_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The edit-distance join's SCALE-KNOB variant: gram length q = 4
    (hashed 62-bit identities — four 21-bit codepoints don't pack into a
    long, see char_grams4_hashed62). Identical contract and oracle to
    dedup_edit_distance — the hash-match proves the q = 4 prefix filter
    also loses no pair.

    Why this is the 100 TB lane: candidate volume is Σ_gram occupancy²
    over the indexed prefix items, and 4-gram df is ~alphabet-fold lower
    than 3-gram df, so bucket occupancy — the term that bent the q = 3
    lane's 100× ratio upward (SCALE.md) — collapses; the price is a
    fixed q·d+1 = 33 indexed occurrences per doc instead of 25 (the
    1.3× linear term buys down the quadratic one). Same banded
    levenshtein verify, same guard lane (thresholds derived from q)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    return _edit_distance_plan(d, char_grams4_hashed62(F.col("text")), 4)


def _sql_minhash_sig() -> str:
    return (
        f"list_transform(generate_series(0, {NUM_HASHES - 1}), "
        f"i -> list_aggregate(list_transform(hh, "
        f"h -> ((2*i + 1) * h + (31*i + 7)) % {P}), 'min'))"
    )


# Shingle hash from per-token hashes (each token hashed over its chars ONCE,
# then 3-gram hashes combined arithmetically) — ~100x cheaper than re-hashing
# every character of every shingle.
_SQL_TOKEN_HASHES = f"list_transform(w, s -> {SQL_POLYHASH.format(s='s')})"
_SQL_SHINGLE_HASHES = (
    f"list_distinct(list_transform(generate_series(1, len(th) - 2), "
    f"i -> ((th[i] * 131 + th[i+1]) % {P} * 131 + th[i+2]) % {P}))"
)


# Full SQL twin of the MinHash-LSH near-dup pipeline. Module-level so
# downstream operators (duplicate-cluster connected components in
# graph_ops.py) can embed the same pair generation as a CTE and stay
# bit-identical with the Spark side.
MINHASH_PAIRS_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    th AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM toks),
    hs AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hh FROM th),
    sig AS (SELECT doc_id, {_sql_minhash_sig()} AS sig FROM hs),
    bands AS (
        SELECT doc_id, j,
               array_to_string(list_transform(sig[j*4 + 1 : j*4 + 4],
                                              x -> CAST(x AS VARCHAR)), '-') AS band_key
        FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, {NUM_BANDS - 1})) AS j)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(generate_series(1, {NUM_HASHES}),
                                i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {NUM_HASHES}
           AS est_jaccard
    FROM cand
    JOIN sig sa ON doc_a = sa.doc_id
    JOIN sig sb ON doc_b = sb.doc_id
    WHERE CAST(len(list_filter(generate_series(1, {NUM_HASHES}),
                               i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {NUM_HASHES} >= 0.5
    """


@F.pandas_udf(ArrayType(LongType()))
def _minhash_sig_batch(texts):
    """Arrow-vectorized twin of the WHOLE minhash signature build for
    ASCII texts of >= 3 tokens (guide §4.2 + §2.4, r15): one memoized
    char fold per distinct token, the 3-gram shingle combine and the 16
    affine min-hashes vectorized in numpy — the same exact integers as
    the JVM pipeline (min over the distinct shingle-hash set == min over
    the exploded multiset, (2i+1)*h + (31i+7) <= 31*(P-1) + 500 fits
    int64). Computing the signature ROW-LOCALLY also removes the
    explode + groupBy(doc_id) exchange the JVM form needs — a shuffle of
    every shingle occurrence in the corpus (§2.4). Rows outside the
    guard return None here (never consumed) and take the original
    pipeline via the slice split in minhash_sig_table."""
    import numpy as np
    import pandas as pd

    aff_a = np.arange(1, 2 * NUM_HASHES, 2, dtype=np.int64).reshape(-1, 1)  # 2i+1
    aff_b = (np.arange(NUM_HASHES, dtype=np.int64) * 31 + 7).reshape(-1, 1)  # 31i+7
    cache: dict = {}
    out = []
    for t_ in texts:
        if t_ is None or not t_.isascii():
            out.append(None)
            continue
        toks = _py_tokens(t_)
        if len(toks) < 3:
            out.append(None)
            continue
        th = np.array(_py_tok_h31(toks, cache), dtype=np.int64)
        hh = np.unique(((th[:-2] * 131 + th[1:-1]) % P * 131 + th[2:]) % P)
        out.append(((aff_a * hh + aff_b) % P).min(axis=1).tolist())
    return pd.Series(out)


def minhash_sig_table(d: DataFrame) -> DataFrame:
    """(doc_id, sig) MinHash signature table for a documents frame — the
    shared index both the full-corpus dedup and the incremental
    batch-vs-corpus dedup join against.

    r15 (guide §4.2 + §2.4): ASCII docs with >= 3 tokens — the whole
    corpus in practice — compute their full 16-hash signature row-locally
    in the Arrow twin (_minhash_sig_batch), which both vectorizes the
    interpreted token-polyhash fold AND drops the explode +
    groupBy(doc_id) exchange (the shuffle of every shingle occurrence).
    Everything else takes the ORIGINAL explode + 16 codegen'd
    min-aggregates via the slice split below, so the table holds
    identical rows for any input (docs with < 3 tokens have no shingles
    and are absent from BOTH slices, exactly as the old explode dropped
    them; NULL text likewise).

    Returned PERSISTED (NUM_HASHES longs per doc — tiny): the band join
    and both signature-compare joins reference `sig`; without this Spark
    recomputes the whole pipeline once per reference (measured 6-7x
    slower at sf0.1). Persisting intermediate signatures is also the
    production shape — at 100 TB they'd be written to a table once and
    joined many times (which is exactly what dedup_incremental_minhash
    models)."""
    w = tokens("text")
    fast = (F.octet_length("text") == F.length("text")) & (F.size(w) >= 3)
    fast_rows = d.filter(fast).select(
        "doc_id", _minhash_sig_batch(F.col("text")).alias("sig")
    )
    sig = fast_rows.unionByName(_minhash_sig_table_jvm(d.filter(~fast)))
    return _spread(sig, "doc_id").transform(pin)


def _minhash_sig_table_jvm(d: DataFrame) -> DataFrame:
    """The original explode + hash-aggregate signature build — the
    exact-edge fallback slice of minhash_sig_table (and its semantics
    pin). The WHOLE text→token-hash→shingle-hash pipeline is ONE
    let-bound expression (see bind()): explode triggers
    InferFiltersFromGenerate + projection collapse, which substitute the
    generator's child expression into the inferred `size(...) > 0`
    filter AND into every element_at() of the shingle lambda — with
    separate projections that re-evaluates the token-hash pipeline once
    per element_at per shingle (~150x per row; measured 397 s vs 1.2 s
    at sf0.1). Signature via explode + 16 codegen'd min-aggregates, NOT
    16 nested array-folds per row: HOF lambdas run interpreted while
    grouped min() is whole-stage codegen with map-side partial
    aggregation."""

    def _shingle_hashes() -> Column:
        def from_th(th: Column) -> Column:
            n = F.size(th)
            sh = F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - 2),
                    lambda i: (
                        (F.element_at(th, i) * 131 + F.element_at(th, i + 1)) % P * 131
                        + F.element_at(th, i + 2)
                    )
                    % P,
                )
            )
            return F.when(n >= 3, sh).otherwise(F.array().cast("array<bigint>"))

        return bind(
            tokens("text"), lambda w: bind(F.transform(w, lambda s: polyhash(s)), from_th)
        )

    ex = d.select("doc_id", F.explode(_shingle_hashes()).alias("h"))
    return (
        ex.groupBy("doc_id")
        .agg(
            *[
                F.min(((2 * i + 1) * F.col("h") + (31 * i + 7)) % P).alias(f"m{i}")
                for i in range(NUM_HASHES)
            ]
        )
        .select("doc_id", F.array(*[f"m{i}" for i in range(NUM_HASHES)]).alias("sig"))
    )


def minhash_band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, j, band_key) rows — NUM_BANDS LSH bucket keys per doc."""
    return sig.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(NUM_BANDS - 1))).alias("j"),
        "sig",
    ).select(
        "doc_id",
        "j",
        F.array_join(
            F.transform(F.slice("sig", F.col("j") * 4 + 1, 4), lambda x: x.cast("string")), "-"
        ).alias("band_key"),
    )


@register(
    "dedup_minhash_lsh",
    oracle=MINHASH_PAIRS_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: shingle → 16 minhashes (affine hash family
    over an exact polynomial base hash) → 4 bands of 4 → band-bucket join →
    signature-similarity filter.

    Scale: the classic sub-quadratic dedup — candidate generation is an
    equi-join on (band_idx, band_key); signature arrays (16 longs/doc)
    are the only shuffled payload, not document text. The hash family is
    seed-fixed so results are reproducible run-to-run (SURVEY §7.3e).

    (pyspark.ml's MinHashLSH provides the same shape; the explicit
    arithmetic here keeps signatures engine-portable and oracle-checkable.)
    """
    d = t(spark, sf_dir, "documents")
    sig = minhash_sig_table(d)
    bands = minhash_band_keys(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(NUM_HASHES)),
            lambda i: F.element_at(F.col("sa.sig"), i) == F.element_at(F.col("sb.sig"), i),
        )
    )
    est = matches.cast("double") / NUM_HASHES
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    th AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM toks),
    hs AS (SELECT doc_id, {_SQL_SHINGLE_HASHES} AS hh FROM th),
    sig AS (SELECT doc_id, {_sql_minhash_sig()} AS sig FROM hs),
    bands AS (
        SELECT doc_id, j,
               array_to_string(list_transform(sig[j*4 + 1 : j*4 + 4],
                                              x -> CAST(x AS VARCHAR)), '-') AS band_key
        FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, {NUM_BANDS - 1})) AS j)
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS dup_of
        FROM bands n JOIN bands o
          ON n.j = o.j AND n.band_key = o.band_key
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
    )
    SELECT new_doc, dup_of,
           CAST(len(list_filter(generate_series(1, {NUM_HASHES}),
                                i -> sn.sig[i] = so.sig[i])) AS DOUBLE) / {NUM_HASHES}
           AS est_jaccard
    FROM cand
    JOIN sig sn ON new_doc = sn.doc_id
    JOIN sig so ON dup_of = so.doc_id
    WHERE CAST(len(list_filter(generate_series(1, {NUM_HASHES}),
                               i -> sn.sig[i] = so.sig[i])) AS DOUBLE) / {NUM_HASHES} >= 0.5
    """,
    tags=("llm", "dedup", "incremental"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus dedup — the shape a DAILY ingest
    actually runs: the incoming batch (modeled as doc_id % 10 = 0, ~10%
    of the corpus) is checked against the historical index ONLY; no
    old-old pair is ever enumerated or re-scored. This is the payoff of
    minhash_sig_table being a persisted table: at 100 TB the historical
    signatures+bands are written once and every daily batch joins its
    own (tiny) band keys against them — the per-day cost is
    batch-bands × matching buckets, independent of how many corpus
    pairs exist.

    Plan: one signature build over the corpus (shared codegen pipeline),
    band equi-join with the new-side filter pushed below the join (the
    old side is the big one and streams), signature rescore on the
    matched pairs only. Emits (new_doc, dup_of, est_jaccard >= 0.5) —
    the rows an ingest gate consumes to drop incoming near-dups."""
    d = t(spark, sf_dir, "documents")
    sig = minhash_sig_table(d)
    bands = minhash_band_keys(sig)
    new_b = bands.filter(F.col("doc_id") % 10 == 0).alias("n")
    old_b = bands.filter(F.col("doc_id") % 10 != 0).alias("o")
    cand = (
        new_b.join(
            old_b,
            (F.col("n.j") == F.col("o.j"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .select(F.col("n.doc_id").alias("new_doc"), F.col("o.doc_id").alias("dup_of"))
        .distinct()
    )
    sn = sig.alias("sn")
    so = sig.alias("so")
    matches = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(NUM_HASHES)),
            lambda i: F.element_at(F.col("sn.sig"), i) == F.element_at(F.col("so.sig"), i),
        )
    )
    est = matches.cast("double") / NUM_HASHES
    return (
        cand.join(sn, F.col("new_doc") == F.col("sn.doc_id"))
        .join(so, F.col("dup_of") == F.col("so.doc_id"))
        .select("new_doc", "dup_of", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )


_POW2_SQL = "[" + ", ".join(str(v) for v in POW2) + "]"

# Second, independent polynomial hash (multiplier 131) — gives the upper 32
# bits of the 64-bit SimHash fingerprint.
SQL_POLYHASH131 = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(a, b) -> (a * 131 + b) % 1000000007)"
)

_SIMHASH_HAMMING_MAX = 3
_BLOCK_DIVS = [1, 65536, 65536**2, 65536**3]  # 16-bit block extractors
_BLOCK_DIVS_SQL = "[" + ", ".join(str(v) for v in _BLOCK_DIVS) + "]"

_SQL_SIGN_AGG = (  # 32-bit sign-aggregate of a token-hash list {th}
    "list_sum(list_transform(generate_series(0, 31), k -> "
    "CASE WHEN list_sum(list_transform({th}, h -> "
    f"CASE WHEN (h // ({_POW2_SQL})[k+1]) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
    f"THEN ({_POW2_SQL})[k+1] ELSE 0 END))"
)


def polyhash131(s: Column) -> Column:
    codes = F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(codes, F.lit(0).cast("long"), lambda acc, x: (acc * 131 + x) % P)


@F.pandas_udf(LongType())
def _simhash_batch(texts):
    """Arrow-vectorized twin of the 64-bit SimHash fingerprint for ASCII
    texts (guide §4.2 + §2.4, r15): one memoized char pass per distinct
    token yields both hash families (_py_tok_h_pair), the per-bit sign
    votes run as one numpy broadcast per doc with Counter multiplicities
    standing in for the exploded token rows (sum over tokens of ±1 ==
    sum over distinct tokens of count·(±1) — same integers), and the
    fingerprint assembles row-locally — which also removes the
    explode + groupBy(doc_id) exchange of every token occurrence
    (§2.4). Bits 30/31 of each half are provably zero (polyhash < 2^30),
    exactly as the JVM form skips them. Non-ASCII rows return None here
    (never consumed) and take the original pipeline via the slice split
    in dedup_simhash; NULL text is absent from both slices."""
    import numpy as np
    import pandas as pd
    from collections import Counter

    ks = np.arange(30, dtype=np.int64)
    pow2 = np.int64(1) << ks  # POW2[:30]
    cache: dict = {}
    out = []
    for t_ in texts:
        if t_ is None or not t_.isascii():
            out.append(None)
            continue
        cnt = Counter(_py_tokens(t_))
        uniq = list(cnt)
        wts = np.fromiter(cnt.values(), dtype=np.int64, count=len(uniq)).reshape(-1, 1)
        h1l, h2l = _py_tok_h_pair(uniq, cache)
        h1 = np.array(h1l, dtype=np.int64).reshape(-1, 1)
        h2 = np.array(h2l, dtype=np.int64).reshape(-1, 1)
        v1 = (wts * (2 * ((h1 >> ks) & 1) - 1)).sum(axis=0)
        v2 = (wts * (2 * ((h2 >> ks) & 1) - 1)).sum(axis=0)
        out.append(int(pow2[v1 > 0].sum()) + (int(pow2[v2 > 0].sum()) << 32))
    return pd.Series(out, dtype="object")


def _simhash_table_jvm(d: DataFrame) -> DataFrame:
    """The original explode + codegen'd vote aggregation — the exact-edge
    fallback slice of dedup_simhash's fingerprint table (and its
    semantics pin). Explode tokens → ONE codegen'd aggregation with 60
    conditional sums (the per-row formulation — 64 nested array-folds
    per document — runs interpreted and is ~50x slower). Both hashes
    come from ONE char scan: a struct accumulator folds (h1, h2)
    together, halving the per-token split+fold work. ONE F.expr string:
    building this fold with Python Column operators costs hundreds of
    py4j round-trips per builder call (README perf note 6)."""
    pair = F.expr(
        "aggregate(transform(split(tok, ''), c -> CAST(ascii(c) AS BIGINT)), "
        "named_struct('h1', CAST(0 AS BIGINT), 'h2', CAST(0 AS BIGINT)), "
        f"(acc, x) -> named_struct('h1', (acc.h1 * 31 + x) % {P}, "
        f"'h2', (acc.h2 * 131 + x) % {P}))"
    )
    th = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select("doc_id", pair.alias("hp"))
        .select("doc_id", F.col("hp.h1").alias("h1"), F.col("hp.h2").alias("h2"))
    )
    # Bits 30/31 of each 32-bit half are provably zero (polyhash < 2^30, so
    # every token votes -1 there — in the oracle too); skipping them avoids
    # materializing the 2^63 literal (signed-long overflow) and 4 dead sums.
    bit_votes = th.groupBy("doc_id").agg(
        *[
            F.expr(
                f"SUM(CASE WHEN ({h} & CAST({POW2[k]} AS BIGINT)) > 0 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"{h}b{k}")
            for h in ("h1", "h2")
            for k in range(30)
        ]
    )
    simhash = F.expr(
        " + ".join(
            f"CAST(CASE WHEN h1b{k} > 0 THEN {POW2[k]} ELSE 0 END AS BIGINT)"
            f" + CAST(CASE WHEN h2b{k} > 0 THEN {POW2[k] * 4294967296} ELSE 0 END AS BIGINT)"
            for k in range(30)
        )
    )
    return bit_votes.select("doc_id", simhash.alias("simhash"))


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    hs AS (SELECT doc_id,
                  list_transform(w, s -> {SQL_POLYHASH.format(s='s')}) AS th1,
                  list_transform(w, s -> {SQL_POLYHASH131.format(s='s')}) AS th2
           FROM toks),
    sims AS (
        SELECT doc_id,
               {_SQL_SIGN_AGG.format(th='th1')}
                 + {_SQL_SIGN_AGG.format(th='th2')} * 4294967296 AS simhash
        FROM hs
    ),
    blocks AS (
        SELECT doc_id, simhash, j,
               (simhash // ({_BLOCK_DIVS_SQL})[j+1]) % 65536 AS bv
        FROM sims CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS j)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM blocks a JOIN blocks b
          ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
    FROM cand
    JOIN sims sa ON doc_a = sa.doc_id
    JOIN sims sb ON doc_b = sb.doc_id
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_HAMMING_MAX}
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit sign-aggregated token-hash fingerprint
    (two independent 32-bit polynomial hashes), candidates generated by
    FOUR 16-bit block tables, kept when Hamming ≤ 3.

    Recall guarantee (Charikar/Manku block scheme): ≤ 3 differing bits can
    touch at most 3 of the 4 disjoint 16-bit blocks, so every qualifying
    pair collides in at least one block table — unlike a single-prefix
    bucket, which both misses prefix-differing near-dups and caps the
    bucket space at 65,536 for the whole corpus.

    Scale: one long per document; the block join is an equi-join on
    (block_index, block_value) — 4×65,536 buckets, pair work bounded per
    bucket, no all-pairs anywhere.

    Bucket-occupancy math (when the 16-bit scheme stops scaling): under
    uniform hashing a block table with B = 2^16 buckets over N docs
    generates ≈ N²/(2B) candidate pairs. At N = 10⁶ that is ~8×10⁶ pairs
    per table (trivial); at N = 10⁷, ~8×10⁸ (heavy but feasible); at
    N = 10⁸, ~8×10¹⁰ — the join, not the fingerprinting, becomes the job.
    Rule of thumb: 16-bit blocks are fine while N ≲ 10⁷–10⁸; beyond that,
    widen the blocks (e.g. a 120-bit fingerprint from four independent
    30-bit sign-aggregates, each full hash serving as its own block →
    B = 2³⁰, ~5×10⁶ pairs per table even at N = 10⁸) — same pigeonhole
    recall guarantee, same equi-join shape, only the block width changes."""
    d = t(spark, sf_dir, "documents")
    # r15 (guide §4.2 + §2.4): ASCII docs — the whole corpus in practice —
    # compute the fingerprint row-locally in the Arrow twin
    # (_simhash_batch), which vectorizes the interpreted per-token char
    # fold AND drops the explode + groupBy(doc_id) exchange. Everything
    # else takes the ORIGINAL explode + codegen'd vote aggregation via
    # the slice split (_simhash_table_jvm), so sims holds identical rows
    # for any input.
    fast = F.octet_length("text") == F.length("text")
    fast_sims = d.filter(fast).select(
        "doc_id", _simhash_batch(F.col("text")).alias("simhash")
    )
    # Persisted: the block join and both fingerprint lookups reference sims;
    # one long per doc, so the cache is negligible and the
    # tokenize+hash+vote pipeline runs once.
    sims = _spread(
        fast_sims.unionByName(_simhash_table_jvm(d.filter(~fast))), "doc_id"
    ).transform(pin)
    blocks = sims.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
        "simhash",
    ).select(
        "doc_id",
        "j",
        F.expr("simhash div element_at(array(1, 65536, 4294967296, 281474976710656), j + 1)")
        .bitwiseAND(F.lit(65535).cast("long"))
        .alias("bv"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sims.alias("sa")
    sb = sims.alias("sb")
    hamming = F.bit_count(F.col("sa.simhash").bitwiseXOR(F.col("sb.simhash")))
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
    )


_WIDE_MULTIPLIERS = (31, 131, 137, 139)  # independent polynomial hashes
_WIDE_RECALL_SAMPLE = 500  # bound on the recall gauge's exact all-pairs slice
_SQL_SIGN_AGG30 = (  # 30-bit sign-aggregate of a token-hash list {th}
    "list_sum(list_transform(generate_series(0, 29), k -> "
    "CASE WHEN list_sum(list_transform({th}, h -> "
    f"CASE WHEN (h // ({_POW2_SQL})[k+1]) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
    f"THEN ({_POW2_SQL})[k+1] ELSE 0 END))"
)


def _sql_wide_hash(mult: int) -> str:
    return (
        "list_transform(w, s -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {mult} + b) % 1000000007))"
    )


def _wide_parts(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, p0..p3): four 30-bit sign-aggregate
    fingerprint parts (Spark twin of _WIDE_PARTS_CTES below)."""
    # ONE F.expr string (same py4j-cost rule as dedup_simhash's fold).
    init = ", ".join(f"'h{i}', CAST(0 AS BIGINT)" for i in range(4))
    step = ", ".join(
        f"'h{i}', (acc.h{i} * {m} + x) % {P}" for i, m in enumerate(_WIDE_MULTIPLIERS)
    )
    quad = F.expr(
        "aggregate(transform(split(tok, ''), c -> CAST(ascii(c) AS BIGINT)), "
        f"named_struct({init}), (acc, x) -> named_struct({step}))"
    )
    th = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select("doc_id", quad.alias("hq"))
        .select("doc_id", *[F.col(f"hq.h{i}").alias(f"h{i}") for i in range(4)])
    )
    # 4 hashes x 30 bits: one codegen'd aggregation, map-side partial.
    bit_votes = th.groupBy("doc_id").agg(
        *[
            F.expr(
                f"SUM(CASE WHEN (h{i} & CAST({POW2[k]} AS BIGINT)) > 0 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"h{i}b{k}")
            for i in range(4)
            for k in range(30)
        ]
    )
    part = lambda i: F.expr(
        " + ".join(
            f"CAST(CASE WHEN h{i}b{k} > 0 THEN {POW2[k]} ELSE 0 END AS BIGINT)"
            for k in range(30)
        )
    )
    return bit_votes.select("doc_id", *[part(i).alias(f"p{i}") for i in range(4)])


# Shared CTE text: doc_id -> four 30-bit fingerprint parts. Used by the
# dedup_simhash_wide oracle and the recall gauge's exact ground truth.
_WIDE_PARTS_CTES = f"""toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    hs AS (SELECT doc_id,
                  {', '.join(f'{_sql_wide_hash(m)} AS th{i}' for i, m in enumerate(_WIDE_MULTIPLIERS))}
           FROM toks),
    parts AS (
        SELECT doc_id,
               {', '.join(_SQL_SIGN_AGG30.format(th=f'th{i}') + f' AS p{i}' for i in range(4))}
        FROM hs
    )"""

_SQL_WIDE_HAMMING = (
    "bit_count(xor({a}.p0, {b}.p0)) + bit_count(xor({a}.p1, {b}.p1))"
    " + bit_count(xor({a}.p2, {b}.p2)) + bit_count(xor({a}.p3, {b}.p3))"
)


@register(
    "dedup_simhash_wide",
    oracle=f"""
    WITH {_WIDE_PARTS_CTES},
    blocks AS (
        SELECT doc_id, j, [p0, p1, p2, p3][j + 1] AS bv
        FROM parts CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS j)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM blocks a JOIN blocks b
          ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(pa.p0, pb.p0)) + bit_count(xor(pa.p1, pb.p1))
              + bit_count(xor(pa.p2, pb.p2)) + bit_count(xor(pa.p3, pb.p3)) AS INTEGER) AS hamming
    FROM cand
    JOIN parts pa ON doc_a = pa.doc_id
    JOIN parts pb ON doc_b = pb.doc_id
    WHERE bit_count(xor(pa.p0, pb.p0)) + bit_count(xor(pa.p1, pb.p1))
        + bit_count(xor(pa.p2, pb.p2)) + bit_count(xor(pa.p3, pb.p3)) <= {_SIMHASH_HAMMING_MAX}
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide SimHash for ≫10⁸-doc corpora: a 120-bit fingerprint built from
    FOUR independent 30-bit sign-aggregated polynomial hashes; each 30-bit
    part is its own candidate block, so the bucket space is B = 2³⁰ per
    table instead of dedup_simhash's 2¹⁶ — per the occupancy math in that
    docstring, candidate pairs per table drop from ~N²/2¹⁷ to ~N²/2³¹
    (~5×10⁶ at N = 10⁸ instead of ~8×10¹⁰).

    Same pigeonhole recall guarantee: ≤ 3 differing bits touch at most 3 of
    the 4 disjoint parts, so every Hamming ≤ 3 pair collides in at least
    one block table. Same equi-join candidate shape; only the block width
    changed. The four parts stay four longs (no 120-bit value is ever
    materialized), so the shuffle payload is 32 bytes/doc either way."""
    parts = _wide_parts(t(spark, sf_dir, "documents")).transform(pin)
    return _wide_pairs(parts)


def _wide_pairs(parts: DataFrame) -> DataFrame:
    """Block-join candidate generation + Hamming filter over an
    already-persisted `_wide_parts` frame — factored out so the recall
    gauge shares the caller's persisted copy instead of each invocation
    building (and caching) its own identical frame."""
    blocks = parts.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"p{i}") for i in range(4)])).alias("j", "bv"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pa = parts.alias("pa")
    pb = parts.alias("pb")
    hamming = sum(
        (
            F.bit_count(F.col(f"pa.p{i}").bitwiseXOR(F.col(f"pb.p{i}")))
            for i in range(4)
        ),
        start=F.lit(0),
    ).cast("int")
    return (
        cand.join(pa, F.col("doc_a") == F.col("pa.doc_id"))
        .join(pb, F.col("doc_b") == F.col("pb.doc_id"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# Dataset assembly: deterministic splits and samples
# ---------------------------------------------------------------------------

# Train/valid/test boundaries in hash-percent space.
_SPLIT_TRAIN_PCT = 80
_SPLIT_VALID_PCT = 90

_SQL_DOC_HASH = SQL_POLYHASH.format(s="CAST(doc_id AS VARCHAR)")


def _doc_hash() -> Column:
    return bind(F.col("doc_id").cast("string"), polyhash)


@register(
    "split_train_test",
    oracle=f"""
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM (
        SELECT n_chars,
               CASE WHEN {_SQL_DOC_HASH} % 100 < {_SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {_SQL_DOC_HASH} % 100 < {_SPLIT_VALID_PCT} THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents)
    GROUP BY split
    """,
    tags=("llm", "split"),
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split by content-independent key
    hash — the assignment every training-data pipeline needs to be stable
    across reruns and engines (no rand(): adding documents never moves an
    existing document between splits).

    Scale: the split label is a pure per-row expression inside the scan —
    NO shuffle to split 100 TB; only the per-split summary aggregates
    (map-side combined). Sums are over exact integers, so the per-split
    stats hash-match any engine."""
    d = t(spark, sf_dir, "documents")
    h = _doc_hash() % 100
    split = (
        F.when(h < _SPLIT_TRAIN_PCT, "train")
        .when(h < _SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )
    return (
        d.select(F.col("n_chars"), split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


_STRATUM_SAMPLE_K = 16  # docs kept per language


@register(
    "sample_stratified",
    oracle=f"""
    SELECT lang, doc_id, n_chars, CAST(sample_rank AS INTEGER) AS sample_rank FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY {_SQL_DOC_HASH} % 1000000, doc_id)
                   AS sample_rank
        FROM documents)
    WHERE sample_rank <= {_STRATUM_SAMPLE_K}
    """,
    tags=("llm", "split"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: K documents per language, chosen
    by key-hash order — reproducible across reruns/engines (a seeded
    `TABLESAMPLE` cannot be replayed cross-engine) and balanced across
    strata regardless of how skewed the language mix is.

    Scale: one shuffle on the stratum key + per-group top-K window. For
    strata too hot for one task at 100 TB, pre-filter with an approximate
    per-stratum hash threshold (keep h < K/stratum_count quantile) before
    the exact window — same result, bounded group size."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy((_doc_hash() % 1_000_000).asc(), F.asc("doc_id"))
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _STRATUM_SAMPLE_K)
    )


@register(
    "dedup_cross_split_contamination",
    oracle=f"""
    WITH s AS (
        SELECT md5(text) AS content_hash,
               CASE WHEN {_SQL_DOC_HASH} % 100 < {_SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {_SQL_DOC_HASH} % 100 < {_SPLIT_VALID_PCT} THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents),
    groups AS (
        SELECT content_hash,
               COUNT(*) AS n_docs,
               len(list_distinct(list(split))) AS n_splits,
               array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
        FROM s GROUP BY content_hash)
    SELECT splits, n_splits, COUNT(*) AS n_groups, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           (n_splits >= 2) AS is_contaminated
    FROM groups GROUP BY splits, n_splits
    """,
    tags=("llm", "dedup", "split"),
)
def dedup_cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: per split-profile counts of exact-
    content groups; profiles with ``n_splits >= 2`` are texts whose
    duplicates leak ACROSS splits — the decontamination gate every eval
    pipeline needs (a test document whose duplicate sits in train silently
    inflates benchmark scores). The full profile (not just the offenders)
    keeps the audit non-vacuous on a clean corpus.

    Composes split_train_test's assignment with dedup_exact_text's
    content hashing. Scale: one shuffle on the 16-byte content hash
    (never the text) + one tiny profile rollup."""
    d = t(spark, sf_dir, "documents")
    h = _doc_hash() % 100
    split = (
        F.when(h < _SPLIT_TRAIN_PCT, "train")
        .when(h < _SPLIT_VALID_PCT, "valid")
        .otherwise("test")
    )
    groups = (
        d.select(F.md5(F.col("text").cast("binary")).alias("content_hash"), split.alias("split"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.size(F.collect_set("split")).cast("long").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
        )
    )
    return (
        groups.groupBy("splits", "n_splits")
        .agg(F.count("*").alias("n_groups"), F.sum("n_docs").alias("n_docs"))
        .withColumn("is_contaminated", F.col("n_splits") >= 2)
    )


@register(
    "text_top_terms",
    oracle=f"""
    SELECT tok, n_occurrences, n_docs, CAST(rank AS INTEGER) AS rank FROM (
        SELECT tok, n_occurrences, n_docs,
               ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, tok) AS rank
        FROM (
            SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
            FROM (SELECT doc_id, UNNEST({SQL_TOKENS}) AS tok FROM documents)
            GROUP BY tok))
    WHERE rank <= 25
    """,
    tags=("llm", "text"),
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-25 tokens by total occurrences
    with document frequency — the exact counterpart of a count-min/TopK
    sketch, and the table a stopword list or a hot-shingle cap is derived
    from.

    Scale: explode → two-level agg. The per-token count partial-aggregates
    map-side; COUNT(DISTINCT doc_id) Spark plans via Expand (skew-safe
    two-phase, no giant per-token sets); final top-25 is a single tiny
    TakeOrdered."""
    d = t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    counts = ex.groupBy("tok").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    # orderBy+limit plans TakeOrderedAndProject (per-partition top-25 then
    # a 25-row merge) — never a global single-partition sort of the whole
    # vocabulary; the rank window then runs over just 25 rows.
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("tok")).limit(25)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("tok"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "tok", "n_occurrences", "n_docs", "rank"
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH ex AS (SELECT doc_id, UNNEST({SQL_TOKENS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tok,
               CAST(tf * n_docs AS DOUBLE) / df AS tfidf
        FROM tf JOIN df USING (tok) CROSS JOIN n)
    SELECT doc_id, tok, tfidf, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, tok) AS rank
        FROM scored)
    WHERE rank <= 3
    """,
    tags=("llm", "text"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 distinctive terms by TF-IDF with a RATIONAL idf
    (``tf · N / df`` — exact integer numerator, one double division) —
    deliberately not ``ln(N/df)``: libm vs JVM transcendentals differ in
    the last ulp, rational idf is bit-identical across engines and ranks
    terms the same way (log is monotone in N/df; only the per-doc ranking
    matters here).

    Scale: tf is a (doc, token) agg off the exploded scan; df is the
    inverted-index document frequency (Expand-based distinct, skew-safe);
    N broadcasts as a literal join. All shuffles key on token or doc —
    never all-pairs."""
    d = t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens("text")).alias("tok")).transform(pin)
    tf = ex.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = ex.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar: one number to the driver, re-broadcast as literal
    scored = tf.join(df_, "tok").select(
        "doc_id",
        "tok",
        ((F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df")).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "tfidf", "rank")
    )


@register(
    "text_unigram_surprisal",
    oracle=f"""
    WITH ex AS (SELECT doc_id, UNNEST({SQL_TOKENS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY doc_id, tok),
    vocab AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot FROM vocab),
    rarity AS (SELECT tok, CAST(LENGTH(bin(CAST(n_tot // cnt AS BIGINT))) AS BIGINT) AS bits
               FROM vocab CROSS JOIN tot)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * bits) AS BIGINT) AS bits_sum,
           CAST(SUM(tf * bits) AS DOUBLE) / SUM(tf) AS avg_bits_per_token
    FROM tf JOIN rarity USING (tok)
    GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average surprisal under the corpus's own unigram model —
    the LM-based quality-filter signal (CCNet, arXiv:1911.00359 §4.3, uses
    a trained LM's perplexity; a corpus unigram model is its zero-training
    counterpart). Low = stopword-heavy boilerplate; high = rare-token spam
    or gibberish; curation keeps the middle band.

    Determinism: a token's surprisal is quantized to INTEGER bits as
    ``length(bin(N div count))`` = floor(log2(N // count)) + 1 — exact
    integer arithmetic in both engines, no transcendental (JVM and libm
    log differ in the last ulp; same discipline as tfidf's rational idf
    above). The per-doc average is one IEEE division of two exact
    integers, bit-identical across engines. Quantization costs < 1 bit of
    resolution per token, irrelevant to a band filter.

    Scale: explode collapses to a (doc, token, tf) aggregate keyed by the
    doc-local pair (map-side combinable — raw occurrences never shuffle),
    the vocab rolls up from tf keyed by token, the corpus total is ONE
    scalar to the driver, and the rarity join is token-keyed against a
    one-row-per-token table (Heaps' law keeps the vocab sublinear in
    corpus size — AQE broadcasts it when it fits). tf is persisted so the
    corpus tokenizes ONCE and both the vocab rollup and the scoring join
    read the aggregate (the scalar collect warms it). No all-pairs
    anywhere.
    """
    d = t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = ex.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).transform(pin)
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    n_tot = vocab.agg(F.sum("cnt")).collect()[0][0]  # scalar: one number
    rarity = vocab.select(
        "tok",
        F.length(F.bin(F.expr(f"CAST({n_tot} AS BIGINT) DIV cnt"))).cast("long").alias("bits"),
    )
    return (
        tf.join(rarity, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("bits")).alias("bits_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "bits_sum",
            (F.col("bits_sum").cast("double") / F.col("n_tokens")).alias("avg_bits_per_token"),
        )
    )


@register(
    "text_bigram_surprisal",
    oracle=f"""
    WITH d AS (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
    ex AS (
        SELECT doc_id, bg FROM d,
          UNNEST(list_transform(generate_series(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i + 1])) AS u(bg)
    ),
    tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM ex GROUP BY doc_id, bg),
    vocab AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY bg),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot FROM vocab),
    rarity AS (SELECT bg, CAST(LENGTH(bin(CAST(n_tot // cnt AS BIGINT))) AS BIGINT) AS bits
               FROM vocab CROSS JOIN tot)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(SUM(tf * bits) AS BIGINT) AS bits_sum,
           CAST(SUM(tf * bits) AS DOUBLE) / SUM(tf) AS avg_bits_per_bigram
    FROM tf JOIN rarity USING (bg)
    GROUP BY doc_id
    """,
    tags=("llm", "text"),
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average surprisal under the corpus's own BIGRAM
    model — the order-2 companion of text_unigram_surprisal: unigram
    surprisal scores vocabulary rarity, bigram surprisal scores
    SEQUENCE rarity, so shuffled/templated text that reuses common
    words in uncommon orders (spam mills, keyword stuffing) reads
    normal to the unigram filter and anomalous here. Docs with fewer
    than two tokens have no bigrams and drop out (a band filter has
    nothing to say about them).

    Determinism: the unigram lane's integer-bits quantization verbatim
    (``length(bin(N div count))`` — no transcendental); one IEEE
    division for the per-doc average. Bigrams are built IN-ROW from the
    token array (transform over an index sequence — one pass, no
    positional self-join), identical construction in the DuckDB twin.

    Scale: same profile as the unigram lane — explode collapses to the
    map-side-combinable (doc, bigram, tf) aggregate, the bigram vocab
    rolls up from tf, the total is one scalar, and the rarity join is
    keyed on a one-row-per-bigram table. Bigram vocabularies run larger
    than unigram ones (still far sublinear in corpus size), which only
    grows the broadcast/shuffle of the vocab side, never reintroduces
    an all-pairs."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    # size==1 guard: Spark's sequence(1, 0) is DESCENDING ([1, 0]), and
    # element_at(toks, 0) is an ANSI error — empty array instead.
    bigrams = F.when(
        F.size("toks") > 1,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.expr("array()"))
    ex = d.select("doc_id", F.explode(bigrams).alias("bg"))
    tf = ex.groupBy("doc_id", "bg").agg(F.count("*").alias("tf")).transform(pin)
    vocab = tf.groupBy("bg").agg(F.sum("tf").alias("cnt"))
    n_tot = vocab.agg(F.sum("cnt")).collect()[0][0]  # scalar: one number
    rarity = vocab.select(
        "bg",
        F.length(F.bin(F.expr(f"CAST({n_tot} AS BIGINT) DIV cnt"))).cast("long").alias("bits"),
    )
    return (
        tf.join(rarity, "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("bits")).alias("bits_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "bits_sum",
            (F.col("bits_sum").cast("double") / F.col("n_bigrams")).alias(
                "avg_bits_per_bigram"
            ),
        )
    )


@register(
    "text_collocations_lift",
    oracle=f"""
    WITH toks AS (SELECT {SQL_TOKENS} AS w FROM documents),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM
            (SELECT UNNEST(w) AS tok FROM toks) GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM uni),
    big AS (
        SELECT s['a'] AS tok_a, s['b'] AS tok_b, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM (SELECT UNNEST(list_transform(generate_series(1, len(w) - 1),
                                           i -> {{'a': w[i], 'b': w[i+1]}})) AS s
              FROM toks)
        GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    scored AS (
        SELECT tok_a, tok_b, c_ab,
               CAST(c_ab AS DOUBLE) * n_tot / ua.c / ub.c AS lift
        FROM big
        JOIN uni ua ON big.tok_a = ua.tok
        JOIN uni ub ON big.tok_b = ub.tok
        CROSS JOIN tot)
    SELECT tok_a, tok_b, c_ab, lift, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, tok_a, tok_b) AS rank
        FROM scored)
    WHERE rank <= 25
    """,
    tags=("llm", "text"),
)
def text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocations: the 25 adjacent-token bigrams (count ≥ 5) most
    over-represented vs independence, scored by LIFT = c(ab)·N / (c(a)·c(b))
    — PMI's argument before the log (log is monotone, the ranking is
    identical), kept rational for the same cross-engine determinism reason
    as tfidf's idf. Collocation tables drive tokenizer-merge candidates and
    template/boilerplate detection in curation pipelines.

    Scale: unigram and bigram counts are both map-side-combinable aggs off
    one tokenized scan (raw occurrences never shuffle unaggregated); the
    two unigram joins are token-keyed against the vocab (Heaps-sublinear,
    AQE-broadcastable); N is ONE driver scalar; top-25 plans
    TakeOrderedAndProject (per-partition top-25, 25-row merge — never a
    global sort), and the rank window runs over 25 rows post-limit."""
    d = t(spark, sf_dir, "documents")

    def _bigrams(w: Column) -> Column:
        sh = F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("a"), F.element_at(w, i + 1).alias("b")
            ),
        )
        # guard: sequence(1, 0) steps DOWN in Spark, it is not empty
        return F.when(F.size(w) >= 2, sh).otherwise(
            F.array().cast("array<struct<a:string,b:string>>")
        )

    toks = d.select(tokens("text").alias("w"))
    uni = toks.select(F.explode("w").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    n_tot = uni.agg(F.sum("c")).collect()[0][0]  # scalar: one number
    big = (
        toks.select(F.explode(bind(F.col("w"), _bigrams)).alias("s"))
        .select(F.col("s.a").alias("tok_a"), F.col("s.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    scored = (
        big.join(ua, "tok_a")
        .join(ub, "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            (
                F.col("c_ab").cast("double") * F.lit(n_tot) / F.col("c_a") / F.col("c_b")
            ).alias("lift"),
        )
    )
    top = scored.orderBy(F.desc("lift"), F.asc("tok_a"), F.asc("tok_b")).limit(25)
    w = Window.orderBy(F.desc("lift"), F.asc("tok_a"), F.asc("tok_b"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "tok_a", "tok_b", "c_ab", "lift", "rank"
    )


# ---------------------------------------------------------------------------
# Within-document repetition (Gopher-style quality signals)
# ---------------------------------------------------------------------------

_REP_NS = (1, 2, 3)


def _sql_grams(n: int) -> str:
    if n == 1:
        return "UNNEST(w)"
    join = " || ' ' || ".join(f"w[i+{k}]" if k else "w[i]" for k in range(n))
    return f"UNNEST(list_transform(generate_series(1, len(w) - {n - 1}), i -> {join}))"


@register(
    "text_repetition_signals",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    grams AS (
        {" UNION ALL ".join(f"SELECT doc_id, {n} AS n, {_sql_grams(n)} AS g FROM toks" for n in _REP_NS)}
    ),
    counts AS (SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g),
    agg AS (
        SELECT doc_id,
               {", ".join(f"SUM(CASE WHEN n = {n} THEN c END) AS t{n}, "
                          f"COUNT(CASE WHEN n = {n} THEN 1 END) AS d{n}, "
                          f"MAX(CASE WHEN n = {n} THEN c END) AS m{n}" for n in _REP_NS)}
        FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           {", ".join(f"COALESCE(CAST(t{n} - d{n} AS DOUBLE) / t{n}, 0.0) AS dup_{n}gram_frac, "
                      f"COALESCE(CAST(m{n} AS DOUBLE) / t{n}, 0.0) AS top_{n}gram_frac"
                      for n in _REP_NS)}
    FROM agg
    """,
    tags=("llm", "text"),
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition: for n in {1,2,3}, the
    fraction of n-gram occurrences that are repeats (1 - distinct/total)
    and the share taken by the single most frequent n-gram. These are the
    standard "drop boilerplate/spam" quality-filter inputs (Rae et al.,
    Gopher, arXiv:2112.11446 §A1.1 — adapted to token n-grams; the corpus
    has no line structure).

    Scale: ONE explode of a per-row (n, gram) struct array feeds ONE
    (doc_id, n, gram) count agg and ONE conditional-sum rollup per doc —
    two map-side-combining shuffles keyed by doc, no joins, no windows;
    text itself never shuffles (grams do).
    """
    return repetition_table(t(spark, sf_dir, "documents"))


_REP_STRUCT = StructType(
    [
        StructField(f"{kind}_{n}gram_frac", DoubleType())
        for n in (1, 2, 3)
        for kind in ("dup", "top")
    ]
)


@F.pandas_udf(_REP_STRUCT)
def _repetition_batch(texts):
    """Arrow-vectorized twin of the repetition signals for ASCII texts
    of >= 3 tokens (guide §4.2; the _fingerprint_batch pattern): per
    document and n in {{1,2,3}}, total grams t, distinct d, max
    multiplicity m over the same gram multiset the JVM pipeline
    explodes — token split replicates tokens() exactly (re.ASCII \\s+
    == Java default \\s including the leading-empty elements of
    split(re, -1); strip(' ') == Spark trim), ' '.join == concat_ws,
    Counter gives the same integers, and each output is the same ONE
    IEEE division of exact ints. Rows outside the guard (non-ASCII, or
    < 3 tokens where the JVM gram builder's descending-sequence edge
    semantics live) take the original pipeline via the slice split in
    repetition_table."""
    from collections import Counter

    import pandas as pd

    cols: dict[str, list] = {f: [] for f in _REP_STRUCT.fieldNames()}
    for t_ in texts:
        toks = _py_tokens(t_)
        for n in (1, 2, 3):
            grams = (
                toks
                if n == 1
                else [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            )
            t_n = len(grams)
            c = Counter(grams)
            cols[f"dup_{n}gram_frac"].append((t_n - len(c)) / t_n)
            cols[f"top_{n}gram_frac"].append(max(c.values()) / t_n)
    return pd.DataFrame(cols)


def repetition_table(d: DataFrame) -> DataFrame:
    """text_repetition_signals over any (doc_id, text) frame — the
    per-batch form (same expressions as the registered lane; see
    quality_table for the no-drift rationale).

    r14: ASCII docs with >= 3 tokens (the whole corpus in practice) run
    through the Arrow-vectorized _repetition_batch — the JVM pipeline
    built every gram string through interpreted higher-order lambdas
    and shuffled them twice (2.6 s at sf0.1; the Python twin computes
    the identical per-doc integers row-locally). Everything else takes
    the ORIGINAL explode + hash-aggregate pipeline below, slice-split
    so behavior is bit-equal for any input (null text is absent from
    BOTH slices, exactly as the old explode dropped it).

    Earlier r14 attempt (measured, rejected): a zero-shuffle in-row
    form with array_distinct + an array_sort/aggregate() run-length
    fold measured 73.7 s vs 2.6 s — higher-order lambdas evaluate
    interpreted per element; that is the same finding that motivates
    the pandas route here."""
    w = tokens("text")
    fast = (F.octet_length("text") == F.length("text")) & (F.size(w) >= 3)
    fast_rows = d.filter(fast).select(
        "doc_id", _repetition_batch(F.col("text")).alias("r")
    ).select("doc_id", "r.*")
    slow_rows = _repetition_table_jvm(d.filter(~fast))
    return fast_rows.unionByName(slow_rows)


def _repetition_table_jvm(d: DataFrame) -> DataFrame:
    """The original explode + hash-aggregate pipeline — the exact-edge
    fallback slice of repetition_table (and its semantics pin)."""

    def _gram_structs() -> Column:
        def gram_lambda(w: Column, n: int):
            # closure factory — a `lambda i, _n=n:` default arg would make
            # F.transform see TWO parameters and pass (element, index)
            def mk(i: Column) -> Column:
                return F.struct(
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", *[F.element_at(w, i + k) for k in range(n)]).alias("g"),
                )

            return mk

        def build(w: Column) -> Column:
            parts = []
            for n in _REP_NS:
                if n == 1:
                    g = F.transform(w, lambda x: F.struct(F.lit(1).alias("n"), x.alias("g")))
                else:
                    g = F.transform(
                        F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(0))),
                        gram_lambda(w, n),
                    )
                parts.append(g)
            return F.concat(*parts)

        return bind(tokens("text"), build)

    ex = d.select("doc_id", F.explode(_gram_structs()).alias("s")).select(
        "doc_id", F.col("s.n").alias("n"), F.col("s.g").alias("g")
    )
    counts = ex.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))
    aggs = []
    for n in _REP_NS:
        is_n = F.col("n") == n
        aggs += [
            F.sum(F.when(is_n, F.col("c"))).alias(f"t{n}"),
            F.count(F.when(is_n, F.lit(1))).alias(f"d{n}"),
            F.max(F.when(is_n, F.col("c"))).alias(f"m{n}"),
        ]
    rolled = counts.groupBy("doc_id").agg(*aggs)
    out_cols = [F.col("doc_id")]
    for n in _REP_NS:
        t_, d_, m_ = F.col(f"t{n}"), F.col(f"d{n}"), F.col(f"m{n}")
        out_cols += [
            F.coalesce((t_ - d_).cast("double") / t_, F.lit(0.0)).alias(f"dup_{n}gram_frac"),
            F.coalesce(m_.cast("double") / t_, F.lit(0.0)).alias(f"top_{n}gram_frac"),
        ]
    return rolled.select(*out_cols)


# ---------------------------------------------------------------------------
# Dedup quality self-measurement
# ---------------------------------------------------------------------------

# Compose from the two registered pipelines' own SQL (same discipline as
# ann_lsh_recall) so the measured definitions cannot drift.
from data_ingestion_lambda_spark.plans.registry import REGISTRY as _REG  # noqa: E402


@register(
    "dedup_lsh_recall",
    oracle=f"""
    WITH exact AS (SELECT doc_a, doc_b FROM ({_REG["dedup_ngram_jaccard"].oracle}) t1),
         lsh AS (SELECT doc_a, doc_b FROM ({MINHASH_PAIRS_ORACLE}) t2),
         hits AS (SELECT COUNT(*) AS n_hits FROM exact JOIN lsh USING (doc_a, doc_b))
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM lsh) AS n_lsh,
           n_hits,
           CAST(n_hits AS DOUBLE) / (SELECT COUNT(*) FROM exact) AS recall
    FROM hits
    """,
    tags=("llm", "dedup", "quality"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH candidate pairs against the exact shingle-
    Jaccard ground truth (>= 0.8): the dedup twin of ann_lsh_recall. One
    audit row — n_exact / n_lsh / n_hits / recall — the number a pipeline
    owner watches when tuning bands x rows.

    Scale: both member pipelines are LSH/inverted-index bounded; the
    comparison joins two small pair lists on (doc_a, doc_b)."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    hits = exact.join(lsh, ["doc_a", "doc_b"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(lsh.agg(F.count("*").alias("n_lsh")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact",
            "n_lsh",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash banding recall CURVE on planted pairs (round 6) — the Jaccard twin
# of similarity.dedup_embedding_recall_curve: the data-driven dedup_lsh_recall
# gauge can only measure at similarities the corpus populates; this one
# CONSTRUCTS pairs at three similarity tiers (twin = the doc's token-hash
# prefix + unique synthetic junk hashes, so exact shingle Jaccard ~
# alpha/(2-alpha) for keep-fraction alpha in {19/20, 16/20, 11/20}), then
# reports band-collision recall per exact-Jaccard decile bin. Everything is
# integer arithmetic (shingle hashes, minhash signatures, intersection
# counts), so both engines agree bit for bit.
_CURVE_PLANT = 150
_CURVE_NUMER = "CASE WHEN doc_id % 3 = 0 THEN 19 WHEN doc_id % 3 = 1 THEN 16 ELSE 11 END"


def _sql_shingles_of(c: str) -> str:
    """_SQL_SHINGLE_HASHES parameterized on the token-hash column (DuckDB)."""
    return (
        f"list_distinct(list_transform(generate_series(1, len({c}) - 2), "
        f"i -> (({c}[i] * 131 + {c}[i+1]) % {P} * 131 + {c}[i+2]) % {P}))"
    )


def _sql_minhash_sig_of(c: str) -> str:
    return (
        f"list_transform(generate_series(0, {NUM_HASHES - 1}), "
        f"i -> list_aggregate(list_transform({c}, "
        f"h -> ((2*i + 1) * h + (31*i + 7)) % {P}), 'min'))"
    )


def _sql_band_collide(a: str, b: str) -> str:
    bands = []
    for j in range(NUM_BANDS):
        bands.append(
            "("
            + " AND ".join(f"{a}[{j * 4 + r}] = {b}[{j * 4 + r}]" for r in range(1, 5))
            + ")"
        )
    return "(" + " OR ".join(bands) + ")"


def _spark_shingles_of(c: str) -> str:
    """The shingle formula as Spark SQL text (element_at indexing), with the
    n>=3 guard sequence() needs (sequence(1, n-2) DESCENDS for n<3)."""
    return (
        f"CASE WHEN size({c}) >= 3 THEN array_distinct(transform(sequence(1, size({c}) - 2), "
        f"i -> ((element_at({c}, i) * 131 + element_at({c}, i+1)) % {P} * 131 "
        f"+ element_at({c}, i+2)) % {P})) ELSE CAST(array() AS array<bigint>) END"
    )


def _spark_sig_of(c: str) -> str:
    return (
        f"transform(sequence(0, {NUM_HASHES - 1}), "
        f"i -> array_min(transform({c}, h -> ((2*i + 1) * h + (31*i + 7)) % {P})))"
    )


def _spark_band_collide(a: str, b: str) -> str:
    bands = []
    for j in range(NUM_BANDS):
        bands.append(
            "("
            + " AND ".join(
                f"element_at({a}, {j * 4 + r}) = element_at({b}, {j * 4 + r})"
                for r in range(1, 5)
            )
            + ")"
        )
    return "(" + " OR ".join(bands) + ")"


def _minhash_curve_oracle() -> str:
    junk = (
        "list_transform(range(1, len(th) - keep_n + 1), "
        f"i -> (doc_id * 1000003 + i * 7919) % {P})"
    )
    return f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, {SQL_TOKENS} AS w FROM documents WHERE doc_id < {_CURVE_PLANT}),
    th0 AS MATERIALIZED (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM toks),
    pl AS MATERIALIZED (
        SELECT doc_id, th,
               list_concat(th[1 : keep_n], {junk}) AS th2
        FROM (SELECT doc_id, th,
                     greatest(3, (len(th) * ({_CURVE_NUMER})) // 20) AS keep_n
              FROM th0)),
    hs AS MATERIALIZED (
        SELECT doc_id, {_sql_shingles_of('th')} AS hh, {_sql_shingles_of('th2')} AS hh2
        FROM pl),
    sg AS MATERIALIZED (
        SELECT doc_id, hh, hh2,
               {_sql_minhash_sig_of('hh')} AS sa, {_sql_minhash_sig_of('hh2')} AS sb
        FROM hs WHERE len(hh) > 0 AND len(hh2) > 0),
    cmp AS MATERIALIZED (
        SELECT CAST((len(list_intersect(hh, hh2)) * 10)
                    // (len(hh) + len(hh2) - len(list_intersect(hh, hh2)))
               AS BIGINT) AS jaccard_bin,
               {_sql_band_collide('sa', 'sb')} AS collide
        FROM sg)
    SELECT jaccard_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN collide THEN 1 ELSE 0 END) AS BIGINT) AS n_collide,
           CAST(SUM(CASE WHEN collide THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS recall
    FROM cmp GROUP BY jaccard_bin
    """


@register(
    "dedup_minhash_recall_curve",
    oracle=_minhash_curve_oracle(),
    tags=("llm", "dedup", "quality"),
)
def dedup_minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-collision recall of the 4x4 MinHash-LSH configuration at KNOWN
    similarity tiers, reported per exact-Jaccard decile bin: each base doc
    (doc_id < _CURVE_PLANT) gets a planted twin sharing a token-hash
    prefix (keep fraction 19/20 | 16/20 | 11/20 by doc_id tier — exact
    shingle Jaccard lands around 0.9 / 0.67 / 0.38), and the row for bin
    b reports how many such pairs collide in >= 1 of the 4 signature
    bands — the candidate-generation event dedup_minhash_lsh keys on.
    Expected S-curve per the 1-(1-s^4)^4 model: ~0.99 above 0.9, ~0.6
    near 0.7, <0.1 at the 0.3-0.4 tail — the table a pipeline owner
    reads before retuning bands x rows, complementing the data-driven
    dedup_lsh_recall (0.96 at the corpus's >= 0.8 ground truth).

    Scale: a gauge — bounded to _CURVE_PLANT synthetic pairs, zero joins,
    zero shuffles beyond the final 11-row-max aggregation. Like the
    embedding curve, the per-pair computation is ONE let-bound expression
    (nested transform(array(x), v -> ...) lambdas) because layered
    projections would re-inline the token-hash pipeline into every
    shingle/signature reference."""
    numer = _CURVE_NUMER
    poly = (
        "aggregate(transform(split(s, ''), ch -> CAST(ascii(ch) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {P})"
    )
    junk = (
        "CASE WHEN size(th) > keep_n THEN transform(sequence(1, size(th) - keep_n), "
        f"i -> (doc_id * 1000003 + CAST(i AS BIGINT) * 7919) % {P}) "
        "ELSE CAST(array() AS array<bigint>) END"
    )
    mega = f"""
    element_at(transform(array(transform(split(trim(text), '\\\\s+'), s -> {poly})), th ->
      element_at(transform(array(greatest(3, (size(th) * ({numer})) div 20)), keep_n ->
        element_at(transform(array(concat(slice(th, 1, keep_n), {junk})), th2 ->
          element_at(transform(array({_spark_shingles_of('th')}), hh ->
            element_at(transform(array({_spark_shingles_of('th2')}), hh2 ->
              element_at(transform(array({_spark_sig_of('hh')}), sa ->
                element_at(transform(array({_spark_sig_of('hh2')}), sb ->
                  named_struct(
                    'ok', size(hh) > 0 AND size(hh2) > 0,
                    'jaccard_bin', CAST((size(array_intersect(hh, hh2)) * 10)
                        div (size(hh) + size(hh2) - size(array_intersect(hh, hh2)))
                        AS BIGINT),
                    'collide', {_spark_band_collide('sa', 'sb')}
                  )
                ), 1)
              ), 1)
            ), 1)
          ), 1)
        ), 1)
      ), 1)
    ), 1)
    """
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < _CURVE_PLANT)
    cmp = d.select("doc_id", F.expr(mega).alias("cs")).filter("cs.ok")
    hit = F.sum(F.when(F.col("cs.collide"), 1).otherwise(0))
    return (
        cmp.groupBy(F.col("cs.jaccard_bin").alias("jaccard_bin"))
        .agg(
            F.count("*").alias("n_pairs"),
            hit.cast("long").alias("n_collide"),
            (hit.cast("double") / F.count("*")).alias("recall"),
        )
    )


@register(
    "dedup_simhash_wide_recall",
    oracle=f"""
    WITH wide AS (SELECT doc_a, doc_b FROM ({_REG["dedup_simhash_wide"].oracle}) t0
                  WHERE doc_a < {_WIDE_RECALL_SAMPLE} AND doc_b < {_WIDE_RECALL_SAMPLE}),
    {_WIDE_PARTS_CTES},
    sample AS (SELECT * FROM parts WHERE doc_id < {_WIDE_RECALL_SAMPLE}),
    exact AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sample a JOIN sample b ON a.doc_id < b.doc_id
        WHERE {_SQL_WIDE_HAMMING.format(a='a', b='b')} <= {_SIMHASH_HAMMING_MAX}
    ),
    hits AS (SELECT COUNT(*) AS n_hits FROM exact JOIN wide USING (doc_a, doc_b))
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM wide) AS BIGINT) AS n_wide,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS DOUBLE) / nullif((SELECT COUNT(*) FROM exact), 0) AS recall
    FROM hits
    """,
    tags=("llm", "dedup", "quality"),
)
def dedup_simhash_wide_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured proof of the wide-SimHash pigeonhole guarantee: recall of
    the block-join candidates against EXACT all-pairs Hamming <= 3 ground
    truth on a bounded doc_id < _WIDE_RECALL_SAMPLE slice. By construction
    recall must be exactly 1.0 (<= 3 flipped bits cannot touch all 4
    disjoint blocks) and n_wide == n_exact on the slice — this gauge turns
    the proof into a regression-checked measurement, the dedup twin of
    dedup_lsh_recall.

    Scale: the exact side is the ONLY deliberate all-pairs join in the
    repo and is hard-bounded to C(_WIDE_RECALL_SAMPLE, 2) comparisons over 32-byte
    fingerprint rows (a broadcast nested-loop on a few hundred rows) —
    ground-truth evaluation on a slice, the same audit shape a 100 TB
    pipeline uses."""
    parts = _wide_parts(t(spark, sf_dir, "documents")).transform(pin)
    sample = parts.filter(F.col("doc_id") < _WIDE_RECALL_SAMPLE)
    a = sample.alias("a")
    b = sample.alias("b")
    ham = sum(
        (F.bit_count(F.col(f"a.p{i}").bitwiseXOR(F.col(f"b.p{i}"))) for i in range(4)),
        start=F.lit(0),
    )
    exact = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= _SIMHASH_HAMMING_MAX)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    wide = (
        _wide_pairs(parts)
        .filter(
            (F.col("doc_a") < _WIDE_RECALL_SAMPLE) & (F.col("doc_b") < _WIDE_RECALL_SAMPLE)
        )
        .select("doc_a", "doc_b")
    )
    hits = exact.join(wide, ["doc_a", "doc_b"])
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(wide.agg(F.count("*").alias("n_wide")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_exact",
            "n_wide",
            "n_hits",
            F.expr("CAST(n_hits AS DOUBLE) / nullif(n_exact, 0)").alias("recall"),
        )
    )


# quality-weighted deterministic sampling ------------------------------------

_WS_SCALE = 1_000_000  # hash-space resolution for keep thresholds
_WS_CHARS_FULL = 1500  # docs at/above this length are always kept

_SQL_WS_HASH = SQL_POLYHASH.format(s="'w|' || CAST(doc_id AS VARCHAR)")


@register(
    "sample_weighted",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (h < thresh) AS BIGINT) AS n_sampled,
           CAST(SUM(thresh) AS DOUBLE) / ({_WS_SCALE}.0 * COUNT(*)) AS target_rate,
           CAST(COUNT(*) FILTER (h < thresh) AS DOUBLE) / COUNT(*) AS actual_rate
    FROM (
        SELECT source,
               LEAST({_WS_SCALE}, (n_chars * {_WS_SCALE}) // {_WS_CHARS_FULL}) AS thresh,
               {_SQL_WS_HASH} % {_WS_SCALE} AS h
        FROM documents)
    GROUP BY source
    """,
    tags=("llm", "split"),
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted sampling: keep each doc with
    probability proportional to its length (capped at 1 for docs >=
    {_WS_CHARS_FULL} chars) — the importance-sampling step of mixture
    construction, stable across reruns and engines because the coin is a
    content-independent key hash against an ALL-INTEGER threshold (no
    rand(), no float compare; adding documents never flips an existing
    decision, exactly like split_train_test).

    Scale: threshold and hash are pure per-row expressions in the scan;
    the only shuffle is the per-source summary."""
    d = t(spark, sf_dir, "documents")
    thresh = F.least(
        F.lit(_WS_SCALE).cast("long"),
        F.expr(f"(n_chars * {_WS_SCALE}) div {_WS_CHARS_FULL}"),
    )
    h = bind(F.concat(F.lit("w|"), F.col("doc_id").cast("string")), polyhash) % _WS_SCALE
    w = d.select("source", thresh.alias("thresh"), h.alias("h"))
    kept = F.col("h") < F.col("thresh")
    return w.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(kept, 1)).alias("n_sampled"),
        (F.sum("thresh").cast("double") / (float(_WS_SCALE) * F.count("*"))).alias(
            "target_rate"
        ),
        (F.count(F.when(kept, 1)).cast("double") / F.count("*")).alias("actual_rate"),
    )


@register(
    "text_token_spectrum",
    oracle=f"""
    SELECT n_occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) * n_occurrences AS BIGINT) AS n_tokens
    FROM (
        SELECT tok, COUNT(*) AS n_occurrences
        FROM (SELECT UNNEST({SQL_TOKENS}) AS tok FROM documents)
        GROUP BY tok)
    GROUP BY n_occurrences
    """,
    tags=("llm", "text"),
)
def text_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-of-frequencies spectrum (the Zipf/Good-Turing
    diagnostic): how many vocabulary types occur exactly k times, and the
    token mass each frequency class carries — the table smoothing
    estimators and tokenizer-vocabulary decisions read.

    Scale: explode → per-token count (map-side partial agg) → regroup on
    the count value; the second key space is tiny (distinct frequencies),
    so the second shuffle is negligible and the first is the same
    token-keyed agg every vocabulary pass already pays."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    per_tok = toks.groupBy("tok").agg(F.count("*").alias("n_occurrences"))
    return per_tok.groupBy("n_occurrences").agg(
        F.count("*").alias("n_types"),
        (F.count("*") * F.col("n_occurrences")).alias("n_tokens"),
    )


# exact substring-span dedup ------------------------------------------------

_SPAN_K = 4  # positional shingle width (tokens)
_MIN_SPAN = 10  # report pairs sharing an exact run of >= this many tokens
_SPAN_MAX_DF = 100  # boilerplate guard: shingles in more docs than this are dropped


def substring_spans(
    docs: DataFrame,
    k: int = _SPAN_K,
    min_span: int = _MIN_SPAN,
    max_df: int = _SPAN_MAX_DF,
) -> DataFrame:
    """Exact repeated-substring detection across documents (the ExactSubstr
    dedup of Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL 2022 — there built on a suffix array; here re-expressed as
    the shuffle-native equivalent a Spark cluster can run).

    A pair of documents shares an exact run of ``k + m - 1`` tokens iff
    they share ``m`` consecutive positional k-token shingles. So:

    1. hash every k-shingle WITH its position (per-token polyhash computed
       once, k hashes combined arithmetically — 8-byte keys, never text);
    2. drop shingles whose document frequency exceeds ``max_df``
       (boilerplate headers/licenses are the classic skew-killer: one
       shingle shared by 1M docs is 10^12 join rows);
    3. self equi-join on the hash (only docs *sharing* a shingle ever
       meet — no all-pairs anywhere);
    4. merge matched positions into maximal runs with gaps-and-islands:
       matches on one alignment diagonal (pos_a - pos_b) with consecutive
       pos_a belong to one island; ``span = run + k - 1``.

    Returns one row per qualifying pair: ``doc_a, doc_b, max_span_tokens,
    n_spans, dup_tokens`` (n_spans counts ALL shared runs >= k tokens;
    dup_tokens sums their span lengths — overlapping diagonals may double
    count, it is a triage metric, documented).

    Scale: the join key is an 8-byte hash; the windows partition on
    (pair, diagonal) — bounded by matched shingles, not corpus size; the
    hot-shingle set ships as a broadcast anti-join. At 100 TB this is the
    standard inverted-index shape: linear explode, equi-join, per-pair
    aggregation."""
    def _positional_hashes() -> Column:
        def from_th(th: Column) -> Column:
            n = F.size(th)

            def sh_hash(i: Column) -> Column:
                h = F.element_at(th, i)
                for j in range(1, k):
                    h = (h * 131 + F.element_at(th, i + j)) % P
                return h

            sh = F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.struct(i.alias("pos"), sh_hash(i).alias("h")),
            )
            return F.when(n >= k, sh).otherwise(
                F.array().cast("array<struct<pos:int,h:bigint>>")
            )

        return bind(
            tokens("text"), lambda w: bind(F.transform(w, lambda s: polyhash(s)), from_th)
        )

    ex = docs.select("doc_id", F.explode(_positional_hashes()).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h")
    )
    hot = (
        ex.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
    )
    # Persisted: both sides of the self-join read it; at 100 TB this is the
    # written-once positional-shingle table (the suffix array's stand-in).
    exf = ex.join(F.broadcast(hot), "h", "left_anti").transform(pin)
    a = exf.alias("a")
    b = exf.alias("b")
    pairs = a.join(
        b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = pairs.withColumn("diag", F.col("pa") - F.col("pb")).withColumn(
        "island", F.col("pa") - F.row_number().over(w)
    )
    islands = runs.groupBy("doc_a", "doc_b", "diag", "island").agg(
        (F.count("*") + F.lit(k - 1)).alias("span")
    )
    return (
        islands.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span").cast("int").alias("max_span_tokens"),
            F.count("*").cast("int").alias("n_spans"),
            F.sum("span").cast("bigint").alias("dup_tokens"),
        )
        .filter(F.col("max_span_tokens") >= min_span)
    )


def _sql_span_hash() -> str:
    h = "th[i]"
    for j in range(1, _SPAN_K):
        h = f"({h} * 131 + th[i+{j}]) % {P}"
    return h


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    th AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM toks),
    ex AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos, {_sql_span_hash()} AS h
        FROM th, UNNEST(generate_series(1, len(th) - {_SPAN_K - 1})) AS u(i)
    ),
    hot AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY h)
            WHERE df > {_SPAN_MAX_DF}),
    exf AS (SELECT * FROM ex WHERE h NOT IN (SELECT h FROM hot)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
        FROM exf a JOIN exf b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT doc_a, doc_b, pa - pb AS diag, pa,
               pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                       ORDER BY pa) AS island
        FROM pairs
    ),
    islands AS (
        SELECT doc_a, doc_b, COUNT(*) + {_SPAN_K - 1} AS span
        FROM runs GROUP BY doc_a, doc_b, diag, island
    )
    SELECT doc_a, doc_b,
           CAST(MAX(span) AS INTEGER) AS max_span_tokens,
           CAST(COUNT(*) AS INTEGER) AS n_spans,
           CAST(SUM(span) AS BIGINT) AS dup_tokens
    FROM islands
    GROUP BY doc_a, doc_b
    HAVING MAX(span) >= {_MIN_SPAN}
    """,
    tags=("llm", "dedup"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of ``substring_spans`` over the documents table —
    exact repeated k-token span detection (see that docstring for the
    architecture and the 100 TB analysis)."""
    return substring_spans(t(spark, sf_dir, "documents"))


# --- context-length chunking -------------------------------------------------

_CHUNK_TOKENS = 64  # tokens per chunk (stand-in for a model's context budget)
_CHUNK_STRIDE = 48  # window advance; CHUNK - STRIDE = 16 tokens of overlap


@register(
    "text_chunk_documents",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
         st AS (SELECT doc_id, w, len(w) AS n FROM toks),
         ch AS (SELECT doc_id, w, n,
                       UNNEST(range(0, n, {_CHUNK_STRIDE})) AS start
                FROM st WHERE n > 0)
    SELECT doc_id,
           CAST(start // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS start_token,
           CAST(least({_CHUNK_TOKENS}, n - start) AS BIGINT) AS chunk_tokens,
           array_to_string(
               list_slice(w, start + 1, start + {_CHUNK_TOKENS}), ' ') AS chunk_text
    FROM ch
    """,
    tags=("llm", "text"),
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: split every document into fixed
    {_CHUNK_TOKENS}-token windows advancing by {_CHUNK_STRIDE} tokens
    (HF-tokenizer overflow semantics: a window starts at every stride
    multiple strictly below the doc's token count, so consecutive chunks
    share CHUNK - STRIDE tokens of overlap and the last chunk may be
    short). This is the sequence-preparation step BEFORE ``pack_sequences``
    bins chunks into training batches: packing needs units no longer than
    the context budget, and chunking is what enforces that bound.

    Scale: one scan, ZERO shuffles — tokenize, explode the per-doc start
    sequence (a narrow generate), slice and re-join tokens per chunk, all
    whole-stage-codegen HOFs. Output is ~(1 + overlap/stride)x the corpus
    text, written distributed; nothing aggregates, so the plan is
    embarrassingly parallel at any corpus size. chunk_id arrives via
    integer `div` on the exploded start (exact in both engines — no float
    division anywhere)."""
    d = t(spark, sf_dir, "documents")
    sel = (
        d.select("doc_id", tokens("text").alias("w"))
        .withColumn("n", F.size("w"))
        .filter(F.col("n") > 0)
        .withColumn(
            "start",
            F.explode(
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_STRIDE))
            ),
        )
    )
    return sel.select(
        "doc_id",
        F.expr(f"start div {_CHUNK_STRIDE}").cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start_token"),
        F.least(F.lit(_CHUNK_TOKENS), F.col("n") - F.col("start"))
        .cast("long")
        .alias("chunk_tokens"),
        F.array_join(
            F.slice(F.col("w"), F.col("start") + 1, F.lit(_CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )


# --- eval-set decontamination ------------------------------------------------

_DECON_K = 8  # n-gram width for train-vs-eval overlap (GPT-3 used 13; the
#               testdata's short synthetic docs make 8 the detectable width)


def _sql_decon_hash() -> str:
    h = "th[i]"
    for _ in range(1, _DECON_K):
        h = f"({h} * 131 + th[i+{_}]) % {P}"
    return h


@register(
    "decontaminate_against_eval",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    th AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th,
                  {_SQL_DOC_HASH} % 100 AS bucket
           FROM toks),
    grams AS (
        SELECT DISTINCT doc_id, bucket, {_sql_decon_hash()} AS h
        FROM th, UNNEST(generate_series(1, len(th) - {_DECON_K - 1})) AS u(i)
    ),
    eval_grams AS (SELECT DISTINCT h FROM grams WHERE bucket >= {_SPLIT_VALID_PCT}),
    shared AS (
        SELECT doc_id, COUNT(*) AS n_shared
        FROM grams WHERE bucket < {_SPLIT_TRAIN_PCT}
                     AND h IN (SELECT h FROM eval_grams)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared_eval_grams,
           COALESCE(s.n_shared, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM th WHERE bucket < {_SPLIT_TRAIN_PCT}) t
    LEFT JOIN shared s ON t.doc_id = s.doc_id
    """,
    tags=("llm", "dedup"),
)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Pile procedure):
    flag every TRAIN-split document that shares any {_DECON_K}-token
    window with any TEST-split document — the n-gram generalization of
    ``dedup_cross_split_contamination``'s exact-content audit, catching
    partial quote-level leakage that whole-document hashing misses. The
    output is a per-train-doc decision table (count of shared eval
    n-grams + boolean verdict), deliberately including the zero rows so a
    clean corpus still yields a non-vacuous, hash-checkable result.

    Scale: windows hash to 8-byte keys per position, distinct per doc;
    the overlap test is one equi-join of train gram hashes against the
    distinct eval gram set. In production the eval side is a benchmark
    suite — megabytes, broadcast-able — so the join degenerates to a
    map-side bloom-style probe; here the eval split is 10% of the corpus
    and shuffles normally. Nothing is ever all-pairs; text never leaves
    the scan."""
    base = decon_doc_grams(t(spark, sf_dir, "documents"))
    # pinned (corpus-sized longs, reused 2x): the exploded gram table
    # feeds BOTH verdict branches (the eval-side distinct and the
    # train-side semi-join) — uncached, each branch re-ran the whole
    # tokenize+hash pipeline (r14 measured the doubled hash pass as the
    # lane's dominant term).
    grams = base.select("doc_id", "bucket", F.explode("ghs").alias("h")).transform(pin)
    return decon_verdict(base.select("doc_id", "bucket"), grams)


def _decon_gram_hashes() -> Column:
    def from_th(th: Column) -> Column:
        n = F.size(th)

        def gh(i: Column) -> Column:
            h = F.element_at(th, i)
            for j in range(1, _DECON_K):
                h = (h * 131 + F.element_at(th, i + j)) % P
            return h

        sh = F.transform(F.sequence(F.lit(1), n - (_DECON_K - 1)), gh)
        return F.when(n >= _DECON_K, F.array_distinct(sh)).otherwise(
            F.array().cast("array<bigint>")
        )

    return bind(
        tokens("text"), lambda w: bind(F.transform(w, lambda s: polyhash(s)), from_th)
    )


@F.pandas_udf(ArrayType(LongType()))
def _decon_ghs_batch(texts):
    """Arrow-vectorized twin of ``_decon_gram_hashes`` for ASCII texts
    (guide §4.2; the _fingerprint_batch pattern): the JVM form runs
    three nested interpreted higher-order lambdas per doc (per-char
    token fold, per-token map, per-window combine) and measured ~1.4 s
    of the decontamination screen's 2.4 s at sf0.1. Provably identical
    values on the guarded (pure-ASCII) rows: Python re.ASCII '\\s+' ==
    Java's default ASCII \\s, re.split keeps the same leading/empty
    elements as Java split(re, -1), str.strip(' ') == Spark trim
    (spaces only), ord == F.ascii per ASCII char, the folds are the
    same exact integer arithmetic mod P (Python ints cannot overflow;
    the JVM long never does for P ~ 1e9), and dict-insertion order ==
    array_distinct's first-occurrence order. Non-ASCII or NULL rows
    return None here and take the original JVM expression via the
    octet_length guard in decon_doc_grams — Java split('') works on
    UTF-16 units while Python iterates codepoints, so those rows must
    keep the JVM path for bit-equality."""
    import pandas as pd

    k = _DECON_K
    cache: dict = {}
    out = []
    for t_ in texts:
        if t_ is None or not t_.isascii():
            out.append(None)
            continue
        th = _py_tok_h31(_py_tokens(t_), cache)
        n = len(th)
        if n < k:
            out.append([])
            continue
        seen = dict.fromkeys(
            _combine_windows(th, n, k)
        )
        out.append(list(seen))
    return pd.Series(out)


def _combine_windows(th, n, k):
    for i in range(n - k + 1):
        h = th[i]
        for j in range(1, k):
            h = (h * 131 + th[i + j]) % P
        yield h


def decon_doc_grams(d: DataFrame) -> DataFrame:
    """(doc_id, bucket, ghs array<bigint>): each document's DISTINCT
    {_DECON_K}-token window hashes plus its split bucket — the sketch the
    decontamination screen probes. Batch-computable (row-local), so the
    incremental corpus-build runner persists these rows once per day and
    never re-tokenizes history; the registered lane derives the same rows
    inline. The hash pipeline runs Arrow-vectorized for ASCII rows and
    falls back to the original JVM expressions otherwise (see
    _decon_ghs_batch — identical arrays either way)."""
    ascii_ok = F.octet_length("text") == F.length("text")
    ghs = F.when(ascii_ok, _decon_ghs_batch(F.col("text"))).otherwise(
        _decon_gram_hashes()
    )
    return d.select("doc_id", (_doc_hash() % 100).alias("bucket"), ghs.alias("ghs"))


def decon_verdict(doc_buckets: DataFrame, grams: DataFrame) -> DataFrame:
    """decontaminate_against_eval's verdict tail over pre-built gram rows:
    ``doc_buckets`` is (doc_id, bucket) for EVERY doc (zero-gram docs
    included — they must still appear with n_shared = 0), ``grams`` is the
    exploded (doc_id, bucket, h) distinct-per-doc gram table."""
    eval_grams = grams.filter(F.col("bucket") >= _SPLIT_VALID_PCT).select("h").distinct()
    shared = (
        grams.filter(F.col("bucket") < _SPLIT_TRAIN_PCT)
        .join(eval_grams, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    train_docs = doc_buckets.filter(F.col("bucket") < _SPLIT_TRAIN_PCT).select("doc_id")
    return train_docs.join(shared, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared_eval_grams"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
    )


# --- mixture construction ----------------------------------------------------


@register(
    "corpus_mixture_rates",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM per_source
    )
    SELECT source, n_docs, n_tokens,
           CAST(total_tokens // n_sources AS BIGINT) AS target_tokens,
           CASE WHEN n_tokens <= total_tokens // n_sources THEN 1.0
                ELSE CAST(total_tokens // n_sources AS DOUBLE) / n_tokens
           END AS sample_rate
    FROM per_source, tot
    """,
    tags=("llm", "curation"),
)
def corpus_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture construction: per-source sampling rates that flatten the
    corpus to a uniform token budget per source (the planning step before
    `sample_weighted` / `corpus_source_cap` execute a mixture — Pile/
    Llama-style recipes are exactly a table like this with hand-tuned
    targets; uniform is the deterministic, oracle-checkable default).
    Over-represented sources get rate = target/actual < 1; sources under
    budget keep rate 1 (never up-sampled here — repetition policy is a
    separate, explicit decision). The single division per source is
    IEEE-identical across engines; everything else is exact integers.

    Scale: one source-keyed aggregation over token counts (map-side
    combined longs) + a broadcast 1-row total — no data pass beyond the
    tokenize scan; the output is #sources rows, the driver-sized artifact
    a mixture scheduler consumes."""
    d = t(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("n_sources"),
    )
    target = F.expr("total_tokens div n_sources")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        target.cast("long").alias("target_tokens"),
        F.when(F.col("n_tokens") <= target, F.lit(1.0))
        .otherwise(target.cast("double") / F.col("n_tokens"))
        .alias("sample_rate"),
    )


@register(
    "corpus_temperature_mix",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY source
    ),
    s AS (
        SELECT source, n_docs, n_tokens,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0)
                   AS BIGINT) AS sqrt_micro
        FROM per_source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(sqrt_micro) AS BIGINT) AS z
        FROM s
    )
    SELECT source, n_docs, n_tokens,
           CAST(CAST(sqrt_micro AS HUGEINT) * 1000000000 // z AS BIGINT)
               AS weight_ppb,
           CAST((CAST(sqrt_micro AS HUGEINT) * 1000000000 // z)
                * total_tokens // 1000000000 AS BIGINT) AS tokens_at_budget,
           CAST(((CAST(sqrt_micro AS HUGEINT) * 1000000000 // z)
                * total_tokens // 1000000000) * 1000000000 // n_tokens
               AS BIGINT) AS epochs_ppb
    FROM s, tot
    """,
    tags=("llm", "curation"),
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights, w_s ∝ n_s^τ at τ = 0.5 — the
    multilingual/multi-source rebalancing recipe (mT5 / XLM-R style:
    τ < 1 upsamples small sources and damps head sources, τ = 1 is
    proportional, τ = 0 is corpus_mixture_rates' uniform flattening).
    Emits per source the normalized weight, the token draw at a budget
    equal to the current corpus size, and the implied repetition factor
    (epochs_ppb > 1e9 means the source repeats — the explicit
    upsampling decision corpus_mixture_rates deliberately refuses to
    make; surfacing it IS this lane's job, over-repetition being a
    known memorization risk the scheduler must see).

    Determinism discipline: τ = 0.5 is computed as FLOOR(SQRT(n)·1e6)
    — int→double is exact below 2^53, SQRT is correctly rounded per
    IEEE-754 and the one multiply is a single IEEE op, so the
    micro-quantized weight is engine-identical (a general τ would need
    pow(), whose rounding ISN'T pinned by the standard — the τ = 0.5
    literal is the hash-matchable point on the knob); everything after
    is exact integer ppb arithmetic.

    Scale: identical shape to corpus_mixture_rates — one source-keyed
    token aggregation + a broadcast 1-row total; output is #sources
    rows."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    ).select(
        "*",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000.0)
        .cast("long")
        .alias("sqrt_micro"),
    )
    tot = s.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("sqrt_micro").cast("long").alias("z"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        # decimal(38,0) intermediates: weight x token-count products pass
        # 2^63 at 100 TB corpus sizes (HUGEINT on the oracle side).
        # Spark's `div` on decimal operands returns LONG (review r10),
        # so each quotient is re-CAST to DECIMAL(38,0) before the next
        # multiply — the quotients themselves fit (weight <= 1e9,
        # tokens_at_budget <= total_tokens), only the products are wide
        F.expr("CAST(sqrt_micro AS DECIMAL(38,0)) * 1000000000 div z")
        .cast("long")
        .alias("weight_ppb"),
        F.expr(
            "CAST(CAST(sqrt_micro AS DECIMAL(38,0)) * 1000000000 div z"
            " AS DECIMAL(38,0)) * total_tokens div 1000000000"
        )
        .cast("long")
        .alias("tokens_at_budget"),
        F.expr(
            "CAST(CAST(CAST(sqrt_micro AS DECIMAL(38,0)) * 1000000000 div z"
            " AS DECIMAL(38,0)) * total_tokens div 1000000000"
            " AS DECIMAL(38,0)) * 1000000000 div n_tokens"
        )
        .cast("long")
        .alias("epochs_ppb"),
    )


# --- language-ID quality gauge ----------------------------------------------


@register(
    "text_lang_confusion",
    # composed at import time from text_language_id's registered oracle so
    # the gauge can never drift from the classifier it measures (same
    # idiom as corpus_final_selection) — see _attach_lang_confusion_oracle.
    oracle=None,
    tags=("llm", "text", "gauge"),
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled lang x predicted lang doc
    counts plus the per-cell share of the labeled language's documents —
    the gauge that says WHERE the stopword-marker classifier errs, not
    just how often (every approximate lane in this repo ships its gauge:
    LSH, SimHash, int8, IVF, PQ recall — this is the text classifier's).
    Composed from text_language_id's builder, so the matrix measures
    exactly the shipped classifier.

    Measured on the synthetic corpus it does its job immediately: every
    labeled language predicts 'en' (the testdata's text is English-ish
    tokens for all lang labels — the label is metadata, not signal), so
    the matrix is the evidence that marker-based ID needs real
    multilingual text to discriminate; on a real corpus the off-diagonal
    cells are the mis-ID report.

    Scale: one (lang, pred_lang) groupBy over the classifier output plus
    a broadcast per-label total — #langs² output rows."""
    scored = text_language_id(spark, sf_dir).select("lang", "pred_lang")
    cells = scored.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return cells.join(F.broadcast(totals), "lang").select(
        "lang",
        "pred_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n_lang")).alias("share_of_lang"),
    )


def _attach_lang_confusion_oracle() -> None:
    from dataclasses import replace

    from data_ingestion_lambda_spark.plans.registry import REGISTRY

    lid_sql = REGISTRY["text_language_id"].oracle
    sql = f"""
    WITH scored AS (SELECT lang, pred_lang FROM ({lid_sql}) t),
         cells AS (
             SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM scored GROUP BY lang, pred_lang
         ),
         totals AS (
             SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang
             FROM cells GROUP BY lang
         )
    SELECT cells.lang, pred_lang, n_docs,
           CAST(n_docs AS DOUBLE) / n_lang AS share_of_lang
    FROM cells JOIN totals ON cells.lang = totals.lang
    """
    spec = REGISTRY["text_lang_confusion"]
    REGISTRY["text_lang_confusion"] = replace(spec, oracle=sql)


_attach_lang_confusion_oracle()


# ---------------------------------------------------------------------------
# Directional containment audit over LSH candidate pairs
# ---------------------------------------------------------------------------


@register(
    "dedup_containment",
    oracle=f"""
    WITH pairs AS ({MINHASH_PAIRS_ORACLE}),
    ctoks AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
    cth AS (SELECT doc_id, {_SQL_TH31} AS th1, {_SQL_TH131} AS th2 FROM ctoks),
    csets AS (SELECT doc_id, {SQL_SHINGLE_HASHES62} AS shingles FROM cth),
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM csets)
    SELECT p.doc_a, p.doc_b,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / sa.n
               AS containment_a_in_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / sb.n
               AS containment_b_in_a
    FROM pairs p
    JOIN sized sa ON p.doc_a = sa.doc_id
    JOIN sized sb ON p.doc_b = sb.doc_id
    WHERE sa.n > 0 AND sb.n > 0
    """,
    tags=("llm", "dedup"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment audit for every MinHash-LSH candidate
    pair: |A∩B|/|A| and |A∩B|/|B| over the full distinct shingle sets —
    the asymmetric companion to the symmetric Jaccard verdict. A pair
    with containment_a_in_b ≈ 1 but modest Jaccard is a QUOTE/SUBSET
    relationship (A embedded in a larger B): the dedup reviewer keeps B
    and drops A, where a symmetric near-dup would keep either. (Subset
    pairs whose Jaccard falls below the LSH threshold need the
    substring-span lane — this audits the pairs the pipeline already
    surfaced.)

    Determinism: shingle identity is the 62-bit double-polynomial hash
    (both engines compute it identically); the two containments are
    single IEEE divisions of exact set sizes.

    Scale: the shingle-set table joins pair rows by doc id — sets ride
    the join as arrays of longs (the written-once signature-table shape);
    the intersection is per-pair row-local work bounded by doc length;
    candidate volume is the LSH output, never all-pairs."""
    d = t(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    sets = d.select(
        "doc_id", shingle_hashes62(tokens("text")).alias("ss")
    ).withColumn("n", F.size("ss"))
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.ss"), F.col("sb.ss")))
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where((F.col("sa.n") > 0) & (F.col("sb.n") > 0))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.n").cast("long").alias("n_a"),
            F.col("sb.n").cast("long").alias("n_b"),
            (inter.cast("double") / F.col("sa.n")).alias("containment_a_in_b"),
            (inter.cast("double") / F.col("sb.n")).alias("containment_b_in_a"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction (tf-idf, engine-exact arithmetic)
# ---------------------------------------------------------------------------

_KW_K = 5  # keywords kept per document


@register(
    "text_top_keywords",
    oracle=f"""
    WITH ex AS (SELECT doc_id, UNNEST({SQL_TOKENS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM ex GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    idf AS (SELECT tok, df,
                   CAST(LENGTH(bin(CAST(n_docs // df AS BIGINT))) AS BIGINT) AS idf_bits
            FROM df CROSS JOIN nd)
    SELECT doc_id, tok, tf, df,
           CAST(tf * idf_bits AS BIGINT) AS score_bits,
           CAST(rk AS BIGINT) AS rank
    FROM (
        SELECT tf.doc_id, tf.tok, tf.tf, idf.df, idf.idf_bits,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf * idf.idf_bits DESC, tf.tok) AS rk
        FROM tf JOIN idf USING (tok)
    ) WHERE rk <= {_KW_K}
    """,
    tags=("llm", "text"),
)
def text_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top {_KW_K} tokens by
    tf·idf, where idf is the unigram-surprisal lane's INTEGER-BITS
    quantization (``length(bin(n_docs div df))`` = floor(log2) + 1 — no
    transcendental, so both engines score identically to the bit). The
    labeling/routing primitive of a curation pipeline: cluster naming,
    topic routing, and dedup-cluster summaries all start from "which
    terms characterize this document against the corpus".

    Determinism: tf, df, n_docs and the score tf·idf_bits are exact
    integers; ROW_NUMBER under the explicit (score DESC, tok ASC)
    total order breaks ties identically in both engines.

    Scale: the unigram lane's profile — explode collapses to the
    map-side-combinable (doc, token, tf) aggregate, df rolls up from tf
    keyed by token (one row per vocab term, Heaps-sublinear), n_docs is
    one scalar, and the scoring join is token-keyed; the only window
    partitions by doc_id — never global."""
    ex = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    tf = ex.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf")).transform(pin)
    df = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    n_docs = tf.select("doc_id").distinct().count()  # scalar: one number
    idf = df.select(
        "tok",
        "df",
        F.length(F.bin(F.expr(f"CAST({n_docs} AS BIGINT) DIV df")))
        .cast("long")
        .alias("idf_bits"),
    )
    scored = tf.join(idf, "tok").withColumn(
        "score_bits", (F.col("tf") * F.col("idf_bits")).cast("long")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_bits"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _KW_K)
        .select("doc_id", "tok", "tf", "df", "score_bits", "rank")
    )


_DSIR_B = 1024  # hashed n-gram feature buckets


def _dsir_bigrams() -> Column:
    """The bigram array over a materialized ``toks`` column — the ONE
    definition every dsir consumer (features, direct bucket stats)
    shares. size==1 guard: sequence(1, 0) is descending — see
    text_bigram_surprisal."""
    return F.when(
        F.size("toks") > 1,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        ),
    ).otherwise(F.expr("array()"))


_DSIR_FEAT_TYPE = ArrayType(
    StructType([StructField("bucket", LongType()), StructField("tf", LongType())])
)


@F.pandas_udf(_DSIR_FEAT_TYPE)
def _dsir_feats_batch(texts):
    """Arrow-vectorized twin of the per-doc hashed-bigram bucket
    histogram for ASCII texts (guide §4.2 + §2.4, r15). The bigram hash
    is composed from memoized per-token folds with the polynomial
    concatenation identity h(a+' '+b) = ((h(a)·31 + 32)·31^len(b) +
    h(b)) mod P — the same exact integers as hashing the bigram string
    char-by-char, without re-walking any token's chars twice. Counter
    over the bucket values == groupBy(doc_id, is_t, bucket).count()
    restricted to one doc (doc_id is unique). Computing the histogram
    ROW-LOCALLY removes the per-doc groupBy exchange of every bigram
    occurrence (§2.4). Docs with < 2 tokens return [] (explode drops
    them, exactly as the empty _dsir_bigrams array did); non-ASCII rows
    return None (never consumed) and take the original pipeline via the
    slice split in dsir_features; NULL text is absent from both slices."""
    from collections import Counter

    import pandas as pd

    cache: dict = {}  # tok -> (polyhash, 31^len(tok) mod P)
    out = []
    for t_ in texts:
        if t_ is None or not t_.isascii():
            out.append(None)
            continue
        toks = _py_tokens(t_)
        if len(toks) < 2:
            out.append([])
            continue
        hs, pws = [], []
        for tok in toks:
            pair = cache.get(tok)
            if pair is None:
                h = 0
                pw = 1
                for ch in tok:
                    h = (h * 31 + ord(ch)) % P
                    pw = (pw * 31) % P
                cache[tok] = pair = (h, pw)
            hs.append(pair[0])
            pws.append(pair[1])
        c = Counter(
            ((hs[i] * 31 + 32) % P * pws[i + 1] + hs[i + 1]) % P % _DSIR_B
            for i in range(len(toks) - 1)
        )
        out.append([{"bucket": b, "tf": n} for b, n in c.items()])
    return pd.Series(out)


def dsir_features(docs: DataFrame) -> DataFrame:
    """(doc_id, is_t, bucket, tf) hashed-bigram features for a
    (doc_id, is_t, text) DataFrame — the single definition the lane AND
    the maintained store build from (no desync possible).

    r15 (guide §4.2 + §2.4): ASCII docs compute their bucket histogram
    row-locally in the Arrow twin (_dsir_feats_batch) and just explode
    it — no exchange; everything else keeps the ORIGINAL explode +
    groupBy pipeline via the slice split, so the union holds identical
    rows for any input."""
    d = docs.select("doc_id", "is_t", "text")
    fast = F.octet_length("text") == F.length("text")
    fast_rows = (
        d.filter(fast)
        .select("doc_id", "is_t", F.explode(_dsir_feats_batch(F.col("text"))).alias("f"))
        .select("doc_id", "is_t", F.col("f.bucket").alias("bucket"), F.col("f.tf").alias("tf"))
    )
    slow = d.filter(~fast).select("doc_id", "is_t", tokens("text").alias("toks"))
    slow_rows = (
        slow.select("doc_id", "is_t", F.explode(_dsir_bigrams()).alias("bg"))
        .select("doc_id", "is_t", (polyhash(F.col("bg")) % _DSIR_B).alias("bucket"))
        .groupBy("doc_id", "is_t", "bucket")
        .agg(F.count("*").alias("tf"))
    )
    return fast_rows.unionByName(slow_rows)


def dsir_stats(tf: DataFrame) -> DataFrame:
    """(bucket, cnt_s, cnt_t) model counts from a features table —
    strictly ADDITIVE in the documents, so per-batch stats summed
    bucket-wise equal the one-shot stats (the maintained store's fold)."""
    return tf.groupBy("bucket").agg(
        F.sum("tf").cast("long").alias("cnt_s"),
        F.sum(F.when(F.col("is_t"), F.col("tf")).otherwise(0))
        .cast("long")
        .alias("cnt_t"),
    )


def _dsir_bits_from_cols(stats_with_totals: DataFrame) -> DataFrame:
    """Shared bits arithmetic over (bucket, cnt_s, cnt_t, n_s, n_t)
    rows — the single definition both entry points below reduce to, so
    the lane's in-plan totals and the store's collected totals cannot
    drift."""
    return stats_with_totals.select(
        "bucket",
        F.length(
            F.bin(F.expr(f"(n_s + {_DSIR_B}) DIV (cnt_s + 1)"))
        ).cast("long").alias("bits_s"),
        F.length(
            F.bin(F.expr(f"(n_t + {_DSIR_B}) DIV (cnt_t + 1)"))
        ).cast("long").alias("bits_t"),
    )


def dsir_bits(stats: DataFrame, n_s: int, n_t: int) -> DataFrame:
    """(bucket, bits_s, bits_t) integer-bits models with add-1 smoothing
    (argument >= 1 even for target-absent buckets)."""
    return _dsir_bits_from_cols(
        stats.withColumn("n_s", F.lit(int(n_s)).cast("long")).withColumn(
            "n_t", F.lit(int(n_t)).cast("long")
        )
    )


def dsir_score(tf: DataFrame, bits: DataFrame) -> DataFrame:
    """Per-doc log importance weight under a bits model (a {_DSIR_B}-row
    broadcast join) — exact BIGINT sums, one final IEEE division."""
    return (
        tf.join(F.broadcast(bits), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * (F.col("bits_s") - F.col("bits_t"))).alias(
                "logw_bits"
            ),
        )
        .select(
            "doc_id",
            "n_feats",
            "logw_bits",
            (F.col("logw_bits").cast("double") / F.col("n_feats")).alias(
                "avg_bits_per_feat"
            ),
        )
    )


@register(
    "text_dsir_weights",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang = 'en' AS is_t, {SQL_TOKENS} AS toks
               FROM documents),
    ex AS (
        SELECT doc_id, is_t, bg FROM d,
          UNNEST(list_transform(generate_series(1, len(toks) - 1),
                                i -> toks[i] || ' ' || toks[i + 1])) AS u(bg)
    ),
    tf AS (
        SELECT doc_id, is_t, {SQL_POLYHASH.format(s="bg")} % {_DSIR_B} AS bucket,
               COUNT(*) AS tf
        FROM ex GROUP BY ALL
    ),
    stats AS (
        SELECT bucket,
               CAST(SUM(tf) AS BIGINT) AS cnt_s,
               CAST(SUM(CASE WHEN is_t THEN tf ELSE 0 END) AS BIGINT) AS cnt_t
        FROM tf GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(cnt_s) AS BIGINT) AS n_s,
                   CAST(SUM(cnt_t) AS BIGINT) AS n_t FROM stats),
    bits AS (
        SELECT bucket,
               CAST(LENGTH(bin((n_s + {_DSIR_B}) // (cnt_s + 1))) AS BIGINT) AS bits_s,
               CAST(LENGTH(bin((n_t + {_DSIR_B}) // (cnt_t + 1))) AS BIGINT) AS bits_t
        FROM stats CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_feats,
           CAST(SUM(tf * (bits_s - bits_t)) AS BIGINT) AS logw_bits,
           CAST(SUM(tf * (bits_s - bits_t)) AS DOUBLE) / SUM(tf)
               AS avg_bits_per_feat
    FROM tf JOIN bits USING (bucket)
    GROUP BY doc_id
    """,
    tags=("llm", "text", "curation"),
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights over hashed bigram features — Data
    Selection with Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score each document by how much more likely its
    hashed n-gram profile is under a TARGET distribution (here the
    corpus's lang='en' slice) than under the raw-source distribution,
    then resample the corpus proportionally. The published recipe is
    exactly this shape: bag of hashed n-grams, two unigram-over-buckets
    models, per-doc log importance weight = sum of per-feature log
    ratios.

    Determinism: both models are quantized to INTEGER bits with the
    repo's ``length(bin(N div cnt))`` idiom (= floor(log2)+1 — no
    transcendental; Laplace add-1 smoothing with N+B in the numerator
    keeps the argument >= 1 even for buckets absent from the target),
    so a doc's log-weight is the exact BIGINT
    sum(tf * (bits_source - bits_target)): POSITIVE = the feature is
    rarer under the source than the target, i.e. the doc looks
    target-like; the per-doc average is ONE IEEE division of exact
    integers. No float reassociation anywhere.

    Scale: explode collapses to the map-side-combinable
    (doc, bucket, tf) aggregate with a FIXED {_DSIR_B}-bucket feature
    space (the hash bounds state regardless of vocabulary growth — the
    reason DSIR hashes at all), bucket stats roll up to {_DSIR_B} rows,
    the two totals are a cross-joined 1-row broadcast computed IN-PLAN
    (the oracle's ``tot`` CTE shape — no driver collect, and no
    corpus-sized ``tf`` InMemoryRelation pinned past return, ADVICE
    r9; at 100 TB caching tf would cost more than the one extra
    tokenization pass, and exchange reuse can share the tf shuffle
    between the stats and scoring branches), and the scoring join is
    against a {_DSIR_B}-row broadcast. At 100 TB the cost is the
    documents scan plus one doc-keyed exchange; everything model-sized
    is constant."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").alias("is_t"), "text"
    )
    tf = dsir_features(d)
    # r14 kept the bucket stats on their own explode chain because the
    # tokenize+hash pipeline was interpreted and tf is deliberately
    # uncached (ADVICE r9: caching a corpus-sized tf at 100 TB costs
    # more than one extra pass). r15: dsir_features is Arrow-vectorized
    # and exchange-free for ASCII rows, so the stats side simply
    # re-evaluates it (dsir_stats — the maintained store's own fold
    # shape): two cheap Arrow passes instead of two interpreted explode
    # chains, still zero corpus-sized caches. Totals stay off the scan
    # as one 1-row broadcast aggregate (Σ cnt_s == Σ max(len(toks)-1,
    # 0) — same integers, no third pass).
    stats = dsir_stats(tf)
    toks = d.select("is_t", tokens("text").alias("toks"))
    n_bigrams = F.greatest(F.size("toks") - 1, F.lit(0)).cast("long")
    tot = toks.agg(
        F.sum(n_bigrams).cast("long").alias("n_s"),
        F.sum(F.when(F.col("is_t"), n_bigrams).otherwise(0)).cast("long").alias("n_t"),
    )
    bits = _dsir_bits_from_cols(stats.crossJoin(F.broadcast(tot)))
    return dsir_score(tf, bits)


_BLOOM_M = 4096  # default filter bits, packed 32 per BIGINT word -> 128 words
_BLOOM_K = 3  # default probe count
# Affine probe parameter pool: (a, b) pairs with odd primes for a so the
# maps stay bijective mod any power-of-two m; a sized filter takes the
# first k. A POOL (not a generator) keeps the DuckDB oracle a literal
# VALUES list and pins the probes across engines and rounds.
_BLOOM_AFFINE = (
    (31, 7),
    (131, 38),
    (1009, 69),
    (8191, 193),
    (131071, 3181),
    (524287, 40961),
    (2097143, 86243),
    (6700417, 216091),
)
_BLOOM_HASHES = _BLOOM_AFFINE[:_BLOOM_K]  # default probes (store import compat)


def bloom_check_sizing(m: int, k: int) -> None:
    """Shared (m, k) validation — VERDICT r9 #2: the sizing is a real
    parameter now, and every entry point (lane, store apply, store
    screen, oracle builder) must agree on what is legal."""
    if m <= 0 or m % 32 != 0:
        raise ValueError(f"bloom: m={m} must be a positive multiple of 32")
    if not 1 <= k <= len(_BLOOM_AFFINE):
        raise ValueError(
            f"bloom: k={k} out of range 1..{len(_BLOOM_AFFINE)} "
            "(the fixed affine probe pool)"
        )


def _bloom_hashes_df(spark: SparkSession, k: int) -> DataFrame:
    return spark.createDataFrame(list(_BLOOM_AFFINE[:k]), "a long, b long")


def bloom_words(fps: DataFrame, m: int = _BLOOM_M, k: int = _BLOOM_K) -> DataFrame:
    """(word_idx, word) filter words for a DataFrame of ``fp`` BIGINT
    fingerprints — the single definition the lane AND the maintained
    store build from (no desync possible). bit_or is associative,
    commutative and idempotent, so words built from ANY partition of the
    member set fold (by another bit_or) to exactly the one-shot words.

    ``m``/``k`` size the filter (VERDICT r9 #2): m bits packed 32 per
    BIGINT word, k affine probes from the fixed pool. Words built under
    different sizings must never be folded together — the maintained
    store records the sizing in a marker and refuses mismatches."""
    bloom_check_sizing(m, k)
    return (
        fps.crossJoin(_bloom_hashes_df(fps.sparkSession, k))
        .select(((F.col("fp") * F.col("a") + F.col("b")) % m).alias("pos"))
        .select(
            (F.col("pos") / 32).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                "bitval"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bitval").alias("word"))
    )


def bloom_screen(
    probes: DataFrame, words: DataFrame, m: int = _BLOOM_M, k: int = _BLOOM_K
) -> DataFrame:
    """(doc_id, bloom_hit) verdicts for probes (doc_id, fp) against a
    words table — the probe half shared by the lane and the store. The
    (m, k) sizing MUST match the one the words were built under."""
    bloom_check_sizing(m, k)
    return (
        probes.crossJoin(_bloom_hashes_df(probes.sparkSession, k))
        .select(
            "doc_id",
            ((F.col("fp") * F.col("a") + F.col("b")) % m).alias("pos"),
        )
        .join(
            F.broadcast(words),
            (F.col("pos") / 32).cast("long") == F.col("word_idx"),
            "left",
        )
        .select(
            "doc_id",
            F.when(
                F.col("word").isNotNull()
                & (
                    F.expr(
                        "(word div shiftleft(CAST(1 AS BIGINT),"
                        " CAST(pos % 32 AS INT))) % 2"
                    )
                    == 1
                ),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.sum("hit").cast("long").alias("n_hits"))
        .select("doc_id", (F.col("n_hits") == k).alias("bloom_hit"))
    )


def _bloom_oracle_sql(m: int, k: int) -> str:
    """DuckDB twin of build+screen at a given sizing — generated from
    the same constants as the Spark lane so the two cannot drift."""
    bloom_check_sizing(m, k)
    values = ", ".join(f"({a}, {b})" for a, b in _BLOOM_AFFINE[:k])
    return f"""
    WITH bench AS (
        SELECT DISTINCT {SQL_POLYHASH.format(s="text")} AS fp
        FROM documents WHERE source = 'src0'
    ),
    hashes(a, b) AS (VALUES {values}),
    bloom AS (
        SELECT pos // 32 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word
        FROM (SELECT (fp * a + b) % {m} AS pos FROM bench CROSS JOIN hashes)
        GROUP BY word_idx
    ),
    probes AS (
        SELECT doc_id, {SQL_POLYHASH.format(s="text")} AS fp FROM documents
    ),
    checked AS (
        SELECT p.doc_id,
               CASE WHEN b.word IS NOT NULL
                    AND (b.word // (CAST(1 AS BIGINT)
                                    << CAST(p.pos % 32 AS INTEGER))) % 2 = 1
                    THEN 1 ELSE 0 END AS hit
        FROM (SELECT doc_id, (fp * a + b) % {m} AS pos
              FROM probes CROSS JOIN hashes) p
        LEFT JOIN bloom b ON p.pos // 32 = b.word_idx
    ),
    verdicts AS (
        SELECT doc_id, CAST(SUM(hit) AS BIGINT) AS n_hits
        FROM checked GROUP BY doc_id
    )
    SELECT q.doc_id,
           (v.n_hits = {k}) AS bloom_hit,
           (bm.fp IS NOT NULL) AS exact_member
    FROM probes q
    JOIN verdicts v ON q.doc_id = v.doc_id
    LEFT JOIN bench bm ON q.fp = bm.fp
    """


def _bloom_screen_lane(spark: SparkSession, sf_dir: str, m: int, k: int) -> DataFrame:
    """Shared build of the registered bloom-screen lanes at a sizing."""
    docs = t(spark, sf_dir, "documents")
    fp = polyhash(F.col("text"))
    bench = (
        docs.filter(F.col("source") == "src0").select(fp.alias("fp")).distinct()
    )
    probes = docs.select("doc_id", fp.alias("fp"))
    verdicts = bloom_screen(probes, bloom_words(bench, m, k), m, k)
    return (
        probes.join(verdicts, "doc_id")
        .join(
            F.broadcast(bench.withColumnRenamed("fp", "bfp")),
            F.col("fp") == F.col("bfp"),
            "left",
        )
        .select(
            "doc_id",
            "bloom_hit",
            F.col("bfp").isNotNull().alias("exact_member"),
        )
    )


@register(
    "dedup_bloom_screen",
    oracle=_bloom_oracle_sql(_BLOOM_M, _BLOOM_K),
    tags=("llm", "dedup", "sketch"),
)
def dedup_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership screen — the constant-size companion of
    ``decontaminate_against_eval``'s equi-join: compress a reference
    set's fingerprints (here the source='src0' slice, standing in for a
    benchmark/blocklist) into an m={_BLOOM_M}-bit filter packed as 128
    BIGINT words, then screen EVERY corpus document against it with
    arithmetic only. Bloom guarantee holds by construction: no false
    negatives (every exact member sets exactly the bits it later
    probes), false positives at the classic (1-e^(-kn/m))^k rate — the
    output carries both verdicts (bloom_hit, exact_member) so the FP
    rate is auditable in the result itself.

    Determinism: fingerprints are the repo's polynomial text hash, the
    k={len(_BLOOM_HASHES)} probe positions are affine maps mod {_BLOOM_M}, the filter
    words build with the integer ``bit_or`` aggregate, and the probe
    reads bits via (word div 2^bit) mod 2 — integer arithmetic end to
    end, identical in both engines.

    Scale: this is the 100 TB decontamination pattern the n-gram lane's
    docstring promises — the reference set collapses to 128 words (one
    KB regardless of its row count), the probe side joins a <=128-row
    broadcast keyed by word index, and each document is screened in its
    scan stage without shuffling text. A blocklist of billions still
    yields a fixed-size filter (grow m via the sizing parameter — see
    ``dedup_bloom_screen_sized`` — not the plan); only confirmed
    bloom_hit docs ever reach the expensive exact verification join —
    here included inline because the bench slice is table-sized."""
    return _bloom_screen_lane(spark, sf_dir, _BLOOM_M, _BLOOM_K)


_BLOOM_M_SIZED = 1 << 20  # 32768 BIGINT words — a 128 KB broadcast
_BLOOM_K_SIZED = 5


@register(
    "dedup_bloom_screen_sized",
    oracle=_bloom_oracle_sql(_BLOOM_M_SIZED, _BLOOM_K_SIZED),
    tags=("llm", "dedup", "sketch"),
)
def dedup_bloom_screen_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_bloom_screen`` at a PRODUCTION sizing (m=2^20 bits /
    32768 BIGINT words, k=5) — VERDICT r9 #2: the 100× probe showed
    the default m=4096 filter saturating at 25k members; at this m the
    classic rate (1-e^(-kn/m))^k is ~2e-5 for those same 25k, so the
    re-run probe shows FP restored by SIZING alone. The plan is
    IDENTICAL to the default lane's — a broadcast probe in the scan
    stage — because filter size only changes the broadcast payload
    (128 KB here; a 1e9-member blocklist at 1% FP wants m≈1.2e10 bits
    ≈ 1.4 GB, at which point the words table rides a shuffle join on
    word_idx instead of a broadcast; the sizing knob is what makes
    that a one-line change)."""
    return _bloom_screen_lane(spark, sf_dir, _BLOOM_M_SIZED, _BLOOM_K_SIZED)


_BPE_ROUNDS = 6  # merge-table prefix the trainer learns


def _bpe_round_ctes() -> str:
    """Unrolled per-round (pairs -> argmax -> fold-merge) CTE chain —
    the DuckDB twin of the builder's round loop, generated from the
    same constant so the two cannot drift."""
    out = []
    for k in range(1, _BPE_ROUNDS + 1):
        out.append(f"""
    pairs{k} AS (
        SELECT syms[i] AS pair_l, syms[i + 1] AS pair_r,
               CAST(SUM(n) AS BIGINT) AS cnt
        FROM wf{k - 1}, UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    best{k} AS (
        SELECT pair_l AS l, pair_r AS r, pair_l || pair_r AS mg, cnt
        FROM pairs{k} ORDER BY cnt DESC, pair_l, pair_r LIMIT 1
    ),
    wf{k} AS (
        SELECT word, n,
               list_reduce(
                   list_prepend([]::VARCHAR[], list_transform(syms, s -> [s])),
                   (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = l
                                    AND x[1] = r
                               THEN list_append(acc[1:len(acc) - 1], mg)
                               ELSE list_append(acc, x[1]) END
               ) AS syms
        FROM wf{k - 1} CROSS JOIN best{k}
    )""")
    return ",".join(out)


@register(
    "text_bpe_train_merges",
    oracle=f"""
    WITH ex AS (SELECT UNNEST({SQL_TOKENS}) AS word FROM documents),
    wf0 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
               string_split(word, '') AS syms
        FROM ex GROUP BY word
    ),
    {_bpe_round_ctes()}
    {" ".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, mg AS merged, cnt AS pair_count FROM best{k}"
        + (" UNION ALL" if k < _BPE_ROUNDS else "")
        for k in range(1, _BPE_ROUNDS + 1)
    )}
    """,
    tags=("llm", "text"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table TRAINING (Sennrich et al. 2016; the algorithm
    behind GPT-2/LLaMA tokenizers) — not just token COUNTING
    (text_bpe_token_count) but learning the first {_BPE_ROUNDS} merges
    from the corpus itself: start from characters, repeatedly merge the
    most frequent adjacent symbol pair, greedy LEFT-TO-RIGHT within
    each word (the reference implementations' fold order: 'aaa' under
    merge (a,a) becomes (aa, a)).

    The trainer runs on the WORD-FREQUENCY table, not the corpus — the
    classic trick that makes BPE training tractable: pair statistics
    are identical whether counted over every occurrence or over
    (distinct word × its count), and the word table is Heaps-law
    sublinear in corpus size. Each round is (1) adjacent-pair counts
    weighted by word frequency — a map-side-combinable aggregate, (2)
    ONE argmax row collected to the driver (count-desc, then
    lexicographic pair — the deterministic tie-break), (3) an in-row
    greedy fold rewriting every word's symbol array. The oracle unrolls
    the same {_BPE_ROUNDS} rounds as CTEs (generated from the same
    constant), with the same fold as a list_reduce lambda — exact
    string/integer arithmetic end to end, so the learned merge tables
    hash-match across engines.

    Scale: at 100 TB the corpus pass is the ONE explode+groupBy
    building wf0; every round after that touches only the vocab-sized
    table (persisted, lineage truncated per round). Production BPE
    (32k merges) runs the same loop longer — the per-round cost the
    lane demonstrates is the whole story. No end-of-word marker is
    appended (merges are word-internal), a deliberate, documented
    simplification applied identically in both engines."""
    merges, wf = _bpe_train(spark, sf_dir)
    wf.unpersist()
    return spark.createDataFrame(
        merges,
        "step int, left_sym string, right_sym string, merged string, "
        "pair_count bigint",
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """The trainer loop shared by text_bpe_train_merges (which returns
    the merge table) and text_bpe_segment (which uses the final folded
    vocabulary): returns (merges, wf) with wf PERSISTED — callers
    unpersist when done."""
    d = t(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .select("word", "n", F.split("word", "").alias("syms"))
        .transform(pin)
    )
    merges = []
    # r14 (guide §1.2 — fewer sequential barriers): each round used to run
    # TWO blocking jobs (the argmax collect, then a count() materializing
    # the fold before unpersisting the parent). The fold is now left lazy
    # and the NEXT round's argmax job materializes it — the parent cache
    # stays alive one extra round so the fold always executes against a
    # cached input, then is released. Same computation, same merges, half
    # the driver round-trips (13 jobs -> 8 for 6 rounds).
    prev = None
    for step in range(1, _BPE_ROUNDS + 1):
        pair_cols = F.when(
            F.size("syms") > 1,
            F.expr(
                "transform(sequence(1, size(syms) - 1),"
                " i -> struct(element_at(syms, i) AS pair_l,"
                "             element_at(syms, i + 1) AS pair_r))"
            ),
        ).otherwise(F.expr("CAST(array() AS array<struct<pair_l:string,pair_r:string>>)"))
        best = (
            wf.select(F.explode(pair_cols).alias("p"), "n")
            .groupBy("p.pair_l", "p.pair_r")
            .agg(F.sum("n").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), "pair_l", "pair_r")
            .limit(1)
            .collect()[0]
        )
        if prev is not None:  # wf is materialized now; drop its parent
            prev.unpersist()
            prev = None
        l, r, cnt = best.pair_l, best.pair_r, int(best.cnt)
        mg = l + r
        merges.append((step, l, r, mg, cnt))
        folded = wf.select(
            "word",
            "n",
            F.aggregate(
                "syms",
                F.expr("CAST(array() AS array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (x == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(mg))
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
        ).transform(pin)
        prev, wf = wf, folded
    wf.count()  # materialize the final fold, then drop its parent
    if prev is not None:
        prev.unpersist()
    return merges, wf


@register(
    "text_bpe_segment",
    oracle=f"""
    WITH ex AS (SELECT UNNEST({SQL_TOKENS}) AS word FROM documents),
    wf0 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
               string_split(word, '') AS syms
        FROM ex GROUP BY word
    ),
    {_bpe_round_ctes()},
    dx AS (SELECT doc_id, UNNEST({SQL_TOKENS}) AS word FROM documents)
    SELECT dx.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(w.syms)) AS BIGINT) AS n_bpe_symbols,
           CAST(SUM(length(dx.word)) AS BIGINT) AS n_chars,
           CAST(SUM(length(dx.word)) AS DOUBLE) / SUM(len(w.syms))
               AS chars_per_symbol
    FROM dx JOIN wf{_BPE_ROUNDS} w ON dx.word = w.word
    GROUP BY dx.doc_id
    """,
    tags=("llm", "text"),
)
def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT the corpus with the merge table text_bpe_train_merges
    just learned — the apply half of BPE, composed from the trainer's
    own final folded vocabulary (the oracle reuses the trainer's CTE
    chain verbatim, so trainer and segmenter cannot drift). Per
    document: word count, BPE symbol count under the learned merges,
    character count, and chars-per-symbol (the compression the merges
    bought — the number a tokenizer-budget planner actually wants; one
    IEEE division of exact integers).

    Scale: segmentation is a JOIN against the vocab-sized folded word
    table, never a re-fold per occurrence — the same reason the trainer
    runs on word frequencies. The corpus contributes one explode +
    word-keyed join + doc-keyed rollup; AQE broadcasts the vocabulary
    when it fits."""
    _, wf = _bpe_train(spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    dx = d.select("doc_id", F.explode(tokens("text")).alias("word"))
    out = (
        dx.join(wf.select("word", F.size("syms").alias("n_syms")), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_symbols"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_symbols",
            "n_chars",
            (F.col("n_chars").cast("double") / F.col("n_bpe_symbols")).alias(
                "chars_per_symbol"
            ),
        )
    )
    return out


_HEAPS_K = 8  # growth checkpoints; a knob in production


@register(
    "text_heaps_law",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST({SQL_TOKENS}) AS tk FROM documents
    ),
    mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS max_id FROM documents),
    first_seen AS (
        SELECT tk, CAST(MIN(doc_id) AS BIGINT) AS first_id
        FROM tok GROUP BY tk
    ),
    doc_n AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM tok GROUP BY doc_id
    ),
    ks AS (SELECT CAST(UNNEST(generate_series(1, {_HEAPS_K})) AS BIGINT) AS k),
    pts AS (
        SELECT ks.k,
               CAST(mx.max_id * ks.k // {_HEAPS_K} AS BIGINT) AS cutoff_id,
               CAST((SELECT COALESCE(SUM(n_tok), 0) FROM doc_n
                     WHERE doc_id <= mx.max_id * ks.k // {_HEAPS_K})
                   AS BIGINT) AS n_tokens,
               CAST((SELECT COUNT(*) FROM first_seen
                     WHERE first_id <= mx.max_id * ks.k // {_HEAPS_K})
                   AS BIGINT) AS v_distinct
        FROM ks CROSS JOIN mx
    ),
    bits AS (
        SELECT k, cutoff_id, n_tokens, v_distinct,
               CAST(LENGTH(bin(n_tokens)) AS BIGINT) AS bits_n,
               CAST(LENGTH(bin(v_distinct)) AS BIGINT) AS bits_v
        FROM pts WHERE n_tokens > 0
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS kk,
               CAST(SUM(bits_n) AS BIGINT) AS sx,
               CAST(SUM(bits_v) AS BIGINT) AS sy,
               CAST(SUM(bits_n * bits_v) AS BIGINT) AS sxy,
               CAST(SUM(bits_n * bits_n) AS BIGINT) AS sxx
        FROM bits
    )
    SELECT b.k, b.cutoff_id, b.n_tokens, b.v_distinct, b.bits_n, b.bits_v,
           CASE WHEN f.kk * f.sxx - f.sx * f.sx <> 0
                THEN CAST((f.kk * f.sxy - f.sx * f.sy) * 1000000000
                          // (f.kk * f.sxx - f.sx * f.sx) AS BIGINT)
           END AS heaps_beta_ppb
    FROM bits b CROSS JOIN fit f
    """,
    tags=("llm", "text", "stats"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve — "is this corpus still
    contributing new vocabulary, or saturating?", the curation signal
    behind de-duplication budgets and mixture re-weighting (V(N) ≈
    K·N^β; β falling toward 0 across checkpoints means new data is
    mostly old words — diminishing returns for coverage). Checkpoints
    are doc_id-prefix cuts at k/K of the max id (K = _HEAPS_K) (a pure function of
    the data — no ordering parameter to disagree on), with the fitted
    bits-domain slope as the summary statistic.

    Determinism discipline: V_k comes from the token FIRST-OCCURRENCE
    table (min doc_id per token — computed ONCE, then each checkpoint
    is a bounded filter-count over the vocab table, NOT k corpus
    passes), N_k from per-doc token counts; the slope is a least-squares
    fit over the (floor-log2(N), floor-log2(V)) integer pairs —
    length(bin(x)) in both engines, the surprisal-lane quantization —
    with exact integer co-moments and ONE ppb floor division, so it
    hash-matches. The bits quantization makes β̂ coarse (it is a
    TREND detector, not a precision estimate — stated, not hidden).
    On the synthetic corpus the vocabulary saturates at the FIRST
    checkpoint (31 distinct tokens corpus-wide), so β̂ reads exactly
    0 — the diminishing-returns verdict this lane exists to raise,
    demonstrated rather than hidden by the fixture.

    Scale: one tokenize scan feeds BOTH the (tok → min doc_id) rollup
    (vocabulary-sized) and the per-doc count rollup (docs-sized); the
    k checkpoints are conditional aggregates over those two tables —
    never k corpus scans; output is ≤k rows."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tk"))
    mx = d.agg(F.max("doc_id").cast("long").alias("max_id"))
    first_seen = tok.groupBy("tk").agg(F.min("doc_id").cast("long").alias("first_id"))
    doc_n = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_tok"))
    ks = spark.range(1, _HEAPS_K + 1).select(F.col("id").cast("long").alias("k"))
    cuts = ks.crossJoin(F.broadcast(mx)).select(
        "k",
        F.expr(f"max_id * k div {_HEAPS_K}").cast("long").alias("cutoff_id"),
    )
    n_pts = (
        cuts.join(doc_n, doc_n["doc_id"] <= cuts["cutoff_id"], "left")
        .groupBy("k", "cutoff_id")
        .agg(F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("n_tokens"))
    )
    v_pts = (
        cuts.join(first_seen, first_seen["first_id"] <= cuts["cutoff_id"], "left")
        .groupBy("k", "cutoff_id")
        .agg(F.count("first_id").cast("long").alias("v_distinct"))
    )
    bits = (
        n_pts.join(v_pts, ["k", "cutoff_id"])
        .filter(F.col("n_tokens") > 0)
        .select(
            "k",
            "cutoff_id",
            "n_tokens",
            "v_distinct",
            F.length(F.bin("n_tokens")).cast("long").alias("bits_n"),
            F.length(F.bin("v_distinct")).cast("long").alias("bits_v"),
        )
    )
    fit = bits.agg(
        F.count("*").cast("long").alias("kk"),
        F.sum("bits_n").cast("long").alias("sx"),
        F.sum("bits_v").cast("long").alias("sy"),
        F.sum(F.col("bits_n") * F.col("bits_v")).cast("long").alias("sxy"),
        F.sum(F.col("bits_n") * F.col("bits_n")).cast("long").alias("sxx"),
    )
    return bits.crossJoin(F.broadcast(fit)).select(
        "k",
        "cutoff_id",
        "n_tokens",
        "v_distinct",
        "bits_n",
        "bits_v",
        F.when(
            F.expr("kk * sxx - sx * sx") != 0,
            F.expr("(kk * sxy - sx * sy) * 1000000000 div (kk * sxx - sx * sx)"),
        )
        .cast("long")
        .alias("heaps_beta_ppb"),
    )
