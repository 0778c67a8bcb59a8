"""Text-analysis column functions for training-data pipelines — all pure
Spark SQL expressions (JVM, whole-stage codegen; no UDFs), so they survive at
100 TB and are DuckDB-oracle-checkable.

The reference has no string functions at all (SURVEY.md §2.7 F9) — these are
the additive operations a web-scale corpus pipeline needs: language-ID,
quality scoring, token counting, content fingerprinting.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Tiny per-language stopword lists for the n-gram-free heuristic language ID.
# Deliberately ASCII-only and short: the point is a cheap JVM-side vote.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "pour", "une"],
    "es": ["el", "los", "las", "es", "en", "una", "por", "para", "con"],
}


def token_count_col(text: Column) -> Column:
    """Whitespace-ish token count: number of [a-zA-Z0-9]+ runs. JVM regexp."""
    return F.size(F.regexp_extract_all(text, F.lit("[a-zA-Z0-9]+"), F.lit(0)))


def _marker_hits(text_lower: Column, words: list[str]) -> Column:
    toks = F.split(text_lower, " ")
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(toks, arr))


def language_id(text: Column) -> Column:
    """Heuristic language ID: greatest stopword-marker overlap wins; 'und'
    (undetermined) when nothing matches."""
    lowered = F.lower(text)
    scores = [(_marker_hits(lowered, ws), code) for code, ws in _LANG_MARKERS.items()]
    best_score = F.greatest(*[s for s, _ in scores])
    # reverse-when keeps the FIRST language in dict order on ties:
    result = F.lit("und")
    for s, code in reversed(scores):
        result = F.when((s == best_score) & (best_score > 0), F.lit(code)).otherwise(
            result
        )
    return result


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality signals (SURVEY-extra
    'quality scoring'). Returns named columns; caller selects/aliases."""
    n_chars = F.length(text)
    n_tokens = token_count_col(text)
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(text, "[^0-9]", ""))
    n_punct = F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", ""))
    mean_tok_len = F.when(n_tokens > 0, n_alpha / n_tokens).otherwise(F.lit(0.0))
    stop_hits = _marker_hits(F.lower(text), _LANG_MARKERS["en"])
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "mean_token_len": mean_tok_len,
        "stopword_hits": stop_hits,
    }


def quality_score(text: Column) -> Column:
    """Scalar quality score in [0,1]: rewards alpha-heavy, stopword-bearing,
    reasonable-token-length text; penalizes punctuation/digit soup."""
    f = quality_features(text)
    raw = (
        f["alpha_ratio"]
        - f["punct_ratio"]
        - f["digit_ratio"]
        + F.least(f["stopword_hits"].cast("double") / 10.0, F.lit(0.3))
    )
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), raw))


def content_md5(text: Column) -> Column:
    """Portable exact-dup key (md5 hex) — identical semantics in DuckDB, so
    oracle-checkable cross-engine."""
    normalized = F.regexp_replace(F.lower(text), "\\s+", " ")
    return F.md5(normalized)
