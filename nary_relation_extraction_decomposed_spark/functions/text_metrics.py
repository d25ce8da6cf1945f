"""Text-analysis column builders (language-ID, quality, token counts,
fingerprints) — pure Spark SQL expressions (JVM-side, no UDFs), each with an
exact DuckDB twin in plans/q_text.py.

These are the training-data-pipeline primitives: cheap, vectorized,
pushdown-friendly, and safe to run over 100 TB of text because they never
leave whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Stopword regexes per language (tiny n-gram-free heuristic; the point is the
# *pattern* — swap in real profiles at deployment).
LANG_PATTERNS: dict[str, str] = {
    "en": r"\b(the|of|and|with|data|for)\b",
    "de": r"\b(der|die|das|und|mit|für)\b",
    "fr": r"\b(le|la|les|et|des|pour)\b",
}

TOKEN_RE = "[a-z0-9]+"
BPE_ISH_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"
PUNCT_RE = "[.,;:!?]"


def _match_count(c: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0))).cast("bigint")


def lang_hits(c: Column) -> dict[str, Column]:
    low = F.lower(c)
    return {lang: _match_count(low, pat) for lang, pat in LANG_PATTERNS.items()}


def lang_id_col(c: Column) -> Column:
    """Deterministic argmax with fixed precedence en > de > fr > und."""
    h = lang_hits(c)
    return (
        F.when((h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] > 0), F.lit("en"))
        .when((h["de"] >= h["fr"]) & (h["de"] > 0), F.lit("de"))
        .when(h["fr"] > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def token_count_col(c: Column) -> Column:
    return _match_count(F.lower(c), TOKEN_RE)


def bpe_ish_count_col(c: Column) -> Column:
    return _match_count(F.lower(c), BPE_ISH_RE)


def quality_score_col(c: Column) -> Column:
    """Length/punct/stopword composite in [0,1]; integer-count arithmetic so
    the DuckDB twin is bit-identical. NULL text scores NULL: the counts are
    NULL there, and least(NULL, 1.0) would otherwise read 1.0 (in Spark
    and DuckDB alike) and rate missing text 0.9."""
    low = F.lower(c)
    toks = _match_count(low, TOKEN_RE)
    punct = _match_count(low, PUNCT_RE)
    stop = _match_count(low, LANG_PATTERNS["en"])
    len_score = F.least(toks.cast("double") / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(
        stop.cast("double") * 5 / F.greatest(toks, F.lit(1)).cast("double"), F.lit(1.0)
    )
    punct_penalty = F.least(
        punct.cast("double") / F.greatest(toks, F.lit(1)).cast("double"), F.lit(1.0)
    )
    score = F.round(len_score * 0.5 + stop_score * 0.4 + (1 - punct_penalty) * 0.1, 6)
    return F.when(c.isNotNull(), score)


def fingerprint_col(c: Column) -> Column:
    """Document fingerprint: md5 over the token-normalized text (whitespace/
    case-insensitive content hash)."""
    return F.md5(F.array_join(F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), F.lit(0)), " "))
