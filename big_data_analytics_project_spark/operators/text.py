"""Text analysis operators for training-data curation.

Everything is built-in-expression-first (split/regexp/array ops inside
whole-stage codegen); nothing here crosses into Python.  Each operator has
an exact DuckDB-SQL mirror in ``plans/text_queries.py`` so results are
value-hash verifiable.

Operators:
- token statistics (whitespace + BPE-ish regex token counting)
- quality scoring (length / punctuation / stopword / uppercase ratios)
- language-id marker tokens (the overlap scoring and its argmax cascade
  are in ``plans/text_queries.py``)
- content fingerprinting (md5 of a normalized form — the exact-dedup key)
- PII redaction (email/URL masking + hit counts — the curation scrub pass)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Deterministic marker sets for the langid heuristic.  With a real corpus
# these would be per-language stopword lists; they must match the oracle SQL
# (plans/text_queries.py) literal-for-literal.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "fast", "data", "query"),
    "de": ("window", "merge", "batch"),
    "es": ("table", "scan", "row"),
    "fr": ("join", "filter", "group"),
    "zh": ("hash", "sort", "key"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "to", "and", "in", "is", "it")

# BPE-ish tokenization: letter runs, digit runs, or single non-space symbols.
# The pattern must behave identically under Java regex and DuckDB's RE2.
BPEISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

PUNCT_CLASS = "[.,!?;:]"


def ws_tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def bpeish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPEISH_PATTERN), 0)).cast("long")


def punct_ratio(text: Column) -> Column:
    kept = F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    return (F.length(text) - kept).cast("double") / F.length(text)


def stopword_ratio(toks: Column) -> Column:
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.size(toks)


def uppercase_ratio(text: Column) -> Column:
    kept = F.length(F.regexp_replace(text, "[A-Z]", ""))
    return (F.length(text) - kept).cast("double") / F.length(text)


def quality_score(text: Column, toks: Column) -> Column:
    """Deterministic heuristic quality score in [0,1]: rewards mid-length
    docs and prose-like stopword density, penalizes punctuation soup.
    (The exact weights are arbitrary; the contract is determinism and
    SQL-mirrorability, mirroring public quality-filter heuristics.)"""
    len_score = F.least(F.length(text).cast("double") / F.lit(500.0), F.lit(1.0))
    sw = stopword_ratio(toks)
    sw_score = F.least(sw * 4, F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(text) * 10, F.lit(0.0))
    return (len_score * 0.4 + sw_score * 0.3 + punct_pen * 0.3)


def normalized_fingerprint(text: Column) -> Column:
    """md5 of the normalized content: lowercase, non-alphanumeric runs
    collapsed to single spaces, trimmed.  This is the exact-dedup key —
    robust to whitespace/punctuation-only differences."""
    norm = F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))
    return F.md5(norm)


def ngram_repetition_ratio(toks: Column, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram in
    the same document: 1 - distinct/total.  The standard within-document
    repetition quality filter (boilerplate, keyword stuffing, template
    spam score high).  Pure higher-order functions — map-only, no shuffle.
    Null for documents with fewer than n tokens."""
    m = F.size(toks) - (n - 1)
    # guard: sequence(1, m) with m < 1 DESCENDS through 0 in Spark and
    # slice(toks, 0, n) throws — short docs must yield null, not crash
    grams = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    )
    total = F.size(grams)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total,
    )


# PII patterns, deliberately conservative so Java regex (Spark) and RE2
# (DuckDB) agree byte-for-byte; both engines replace globally.  Case
# insensitivity ('Alice@Example.COM' / 'HTTPS://…' are PII too) uses
# explicit mixed-case character classes rather than the (?i) flag: Java's
# (?i) without UNICODE_CASE folds ASCII only while RE2 folds Unicode
# (U+212A KELVIN SIGN would match [k] in RE2 but not Spark), so explicit
# classes are the only form with identical cross-engine semantics on
# arbitrary input.
EMAIL_PATTERN = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
URL_PATTERN = "[hH][tT][tT][pP][sS]?://[^ ]+"


def redact_pii(text: Column) -> Column:
    """Mask emails then URLs (order matters: an email inside a URL query
    string is masked first, leaving the URL mask to cover the rest)."""
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
        URL_PATTERN,
        "<URL>",
    )


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_urls) matched in the raw text."""
    n_emails = F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0)).cast("long")
    n_urls = F.size(F.regexp_extract_all(text, F.lit(URL_PATTERN), 0)).cast("long")
    return n_emails, n_urls
