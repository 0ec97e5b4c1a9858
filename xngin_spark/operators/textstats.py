"""Text analysis operators: token counting, quality scoring, language
ID, document fingerprinting.

All JVM-side built-ins (split / filter / transform / md5 / xxhash64) —
no Python in the hot path, so every operator whole-stage-codegens and
scales linearly with input splits; none of them shuffles.

Tokenization convention: single-space split (the corpus convention for
the synthetic `documents` table; swap TOKEN_SEP for `\\s+`+regex split
on real data — kept exact here so the DuckDB oracle can reproduce it
verbatim with string_split).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SEP = " "

# Tiny built-in stopword / language marker lists (public knowledge).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "with"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
}


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_SEP)


def token_count(text: Column) -> Column:
    """Whitespace token count (SURVEY/brief: token counting baseline)."""
    return F.size(tokens(text)).cast("long")


BPE_ISH_PATTERN = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: alnum runs and individual punctuation
    marks each count as one token. RE2-compatible pattern (alternation
    only, no lookarounds) so the DuckDB oracle can reproduce it with
    regexp_extract_all verbatim."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(arr, t))).cast("long")


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: rewards mid-length docs, healthy
    mean token length and stopword presence — the standard cheap
    pre-filter shape for pretraining corpora. Pure double arithmetic
    from integer counts → bit-deterministic across engines."""
    n_chars = F.length(text).cast("double")
    n_toks = token_count(text).cast("double")
    n_stop = stopword_count(text).cast("double")
    mean_tok_len = (n_chars - (n_toks - 1)) / n_toks
    len_score = F.least(n_chars / 200.0, F.lit(1.0))
    tok_len_score = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), 1.0).otherwise(0.5)
    stop_score = F.least((n_stop / n_toks) * 10.0, F.lit(1.0))
    return (0.4 * len_score + 0.3 * tok_len_score + 0.3 * stop_score)


def lang_hits(text: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(arr, t))).cast("long")


def lang_id(text: Column) -> Column:
    """Marker-word language ID with deterministic tie-break order
    (en > es > de > unknown). N-gram-free variant adequate for
    space-separated corpora; the shape (per-language score → argmax)
    is what matters at scale — one pass, no shuffle."""
    en, es, de = (lang_hits(text, lang) for lang in ("en", "es", "de"))
    return (
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("unknown")
    )


def fingerprint_md5(text: Column) -> Column:
    """Exact-content fingerprint (md5 hex) — portable across engines."""
    return F.md5(text)


def fingerprint_xx64(text: Column) -> Column:
    """64-bit fingerprint via xxhash64 — the cheap scale path for
    exact-dup bucketing (8 bytes/doc instead of 32)."""
    return F.xxhash64(text)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass enrichment with every stat column — single projection,
    no shuffle, codegen'd."""
    t = F.col(text_col)
    return df.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        stopword_count(t).alias("n_stopwords"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint_md5(t).alias("fp_md5"),
        fingerprint_xx64(t).alias("fp_xx64"),
    )


# RE2-compatible PII patterns (no lookarounds) so the DuckDB oracle can
# run them verbatim; ordered most-specific first because redaction is a
# sequential rewrite chain.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[- ]\d{3}[- ]\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Chain of regexp_replace passes substituting typed placeholder
    tokens — the standard pretraining-corpus scrub step. All JVM
    regex, map-side, no shuffle; at 100 TB this is a pure scan."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_hits(text: Column) -> Column:
    """Total count of PII matches across all pattern families."""
    total = F.lit(0)
    for pat, _ in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(text, F.lit(pat), 0))
    return total.cast("long")


# Markup-stripping chain, RE2-compatible so the DuckDB oracle runs the
# identical patterns. Entities first would corrupt tags containing
# escaped text; tags strip first, then entities decode, then whitespace
# collapses — order matters and is part of the contract.
MARKUP_STEPS: tuple[tuple[str, str], ...] = (
    (r"<[^>]*>", " "),            # tags (incl. attributes) → space
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"\s+", " "),                # collapse runs of whitespace
)


def strip_markup(text: Column) -> Column:
    """HTML/markup → clean text: drop tags, decode common entities,
    collapse whitespace, trim. The boilerplate-removal step every
    web-crawl pretraining pipeline runs before tokenization. All JVM
    regexp_replace — map-side, no shuffle, a pure scan at 100 TB."""
    out = text
    for pat, repl in MARKUP_STEPS:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(out)


def markup_tag_count(text: Column) -> Column:
    """Number of markup tags present (pre-strip audit column)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"<[^>]*>"), 0)).cast("long")


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Appendix A1.1) — the published heuristic filter
# set most pretraining pipelines start from. Kept as module constants
# so the DuckDB oracle and the planted-document tests share them.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1       # '#' or '...' per word
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8    # words containing >=1 [a-zA-Z]
GOPHER_MIN_DISTINCT_STOPWORDS = 2


def gopher_signals(text: Column) -> dict[str, Column]:
    """The Gopher quality signals as named Columns — all JVM built-ins
    (split/filter/length/regexp), one codegen'd projection, no shuffle:
    a pure scan at 100 TB.

    Line-level Gopher rules (bullet-start / ellipsis-end line
    fractions) are omitted: the corpus convention here is
    single-line documents (no '\\n' in the synthetic tables), so those
    fractions are constant 0 and would be vacuous signals; on real
    multi-line data add them as two more filter/size expressions over
    split(text, '\\n').
    """
    toks = tokens(text)
    n_words = F.size(toks).cast("long")
    n_words_d = n_words.cast("double")
    n_chars = F.length(text).cast("double")
    # single-space-joined corpus => total word chars = chars - (n-1)
    mean_word_len = (n_chars - (n_words_d - 1)) / n_words_d
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_words_d
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / n_words_d
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_distinct_stop = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(toks, s))
    ).cast("long")
    passes = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (n_distinct_stop >= GOPHER_MIN_DISTINCT_STOPWORDS)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "alpha_frac": alpha_frac,
        "n_distinct_stop": n_distinct_stop,
        "gopher_pass": passes,
    }


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
) -> DataFrame:
    """Hashed bag-of-words linear classifier: (id, n_tokens, score,
    keep) — the fasttext-style model-based quality filter (score a
    document by the mean weight of its tokens' hash buckets, keep if
    positive) that pretraining pipelines run after the rule-based
    screens (Gopher rules → classifier → dedup).

    The weight table is FROZEN from md5 — weight(b) =
    ((md5_long("w:" + b) % 2001) - 1000) / 1000, an exact 3-decimal
    value in [-1, 1] — standing in for trained parameters so the
    pipeline shape is real while the "training" stays deterministic
    and engine-portable; swapping in a learned table is a broadcast
    join on bucket id, same plan. Scoring is one transform/aggregate
    over the token array — map-side JVM codegen, zero shuffle, zero
    Python: classifying a 100 TB corpus is a pure scan. Token weights
    are exact decimals, the sum accumulates in DECIMAL(25,9), and the
    mean is one IEEE division — bit-identical in the DuckDB oracle.
    """
    from xngin_spark.operators.dedup import md5_long

    dec = "decimal(25,9)"
    toks = tokens(F.col(text_col))

    def weight(t: Column) -> Column:
        bucket = F.pmod(md5_long(t), F.lit(buckets))
        wh = md5_long(F.concat(F.lit("w:"), bucket.cast("string")))
        return (F.pmod(wh, F.lit(2001)) - F.lit(1000)).cast("double") / F.lit(
            1000.0
        )

    terms = F.transform(toks, lambda t: weight(t).cast(dec))
    tot = F.aggregate(terms, F.lit(0).cast(dec), lambda a, x: (a + x).cast(dec))
    n = F.size(toks)
    score = tot.cast("double") / n.cast("double")
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        score.alias("score"),
        (score > F.lit(0.0)).alias("keep"),
    )
