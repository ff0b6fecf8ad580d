"""Text analysis operators for training-data pipelines.

All native column expressions (whole-stage codegen; no UDFs): token
counting, quality scoring and a language-ID heuristic. Each is designed
to be reproducible in an external SQL engine for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword sets for the n-gram/stopword language heuristic
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
}


def whitespace_token_count(col: Column) -> Column:
    """Token count by whitespace splitting (empty text -> 0)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: word/digit runs plus each standalone
    punctuation character — the regex analog of a BPE tokenizer's
    pre-tokenization pass. Documented stand-in for tiktoken (reference
    cost_tracker.py:59-62). The pattern is lookaround-free so the same
    regex runs in RE2 engines (the DuckDB oracle uses it verbatim)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"\w+|[^\w\s]"), 0))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation."""
    stripped = F.regexp_replace(col, r"[^\p{Punct}]", "")
    return (F.length(stripped) / F.greatest(F.length(col), F.lit(1))).cast("double")


def quality_score(col: Column) -> Column:
    """Composite heuristic quality score in [0, 1]:
    length sweet-spot + word-length sanity + low punctuation noise."""
    n = F.length(col)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    words = F.split(F.trim(col), r"\s+")
    avg_word = n / F.greatest(F.size(words), F.lit(1))
    word_score = F.when((avg_word >= 3) & (avg_word <= 10), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    noise_penalty = F.lit(1.0) - F.least(punct_ratio(col) * 2, F.lit(1.0))
    return ((len_score + word_score + noise_penalty) / 3.0).cast("double")


def lang_id(col: Column) -> Column:
    """Stopword-vote language heuristic: argmax over LANG_STOPWORDS of the
    stopword hit count; 'und' (undetermined) when no stopwords hit."""
    words = F.split(F.lower(F.trim(col)), r"\s+")
    scores = []
    for lang, sws in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in sws])
        scores.append(
            F.struct(
                F.size(F.filter(words, lambda w: F.array_contains(sw, w))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )
