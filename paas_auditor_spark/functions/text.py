"""Text-analysis column functions for the training-data pipeline surface.

Beyond reference parity (the reference has no text ops — SURVEY.md §2.8);
these are the north-star LLM-data operators.  All are built-in-function
compositions (JVM-side, codegen'd) — no Python UDFs — so they stay inside
WholeStageCodegen and scale linearly with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from paas_auditor_spark.functions.exprs import let

WS = r"\s+"
STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
)
# crude per-language marker profiles for the n-gram/stopword language-ID
# heuristic; deterministic and vocabulary-based so it is testable without
# external models.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "zh": ("的", "了", "是", "在"),
}


def normalized_text(text: Column) -> Column:
    """Lowercase + whitespace-collapsed canonical form."""
    return F.lower(F.regexp_replace(F.trim(text), WS, " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(F.trim(text), WS)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on word/digit/punct boundaries,
    approximating a BPE tokenizer's granularity without a vocab."""
    pieces = F.split(
        F.trim(text), r"(?<=\W)(?=\w)|(?<=\w)(?=\W)|(?<=\d)(?=\D)|(?<=\D)(?=\d)"
    )
    return F.size(F.filter(pieces, lambda p: F.trim(p) != F.lit(""))).cast("long")


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(
        F.filter(tokens(F.lower(text)), lambda t: t.isin(*stopwords))
    ).cast("long")


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^.!?,;:]", "")).cast("long")


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword quality-scoring features."""
    n_tok = token_count(text)
    return {
        "n_chars_calc": F.length(text).cast("long"),
        "n_tokens": n_tok,
        "n_punct": punct_count(text),
        "punct_ratio": F.round(
            punct_count(text) / F.greatest(F.length(text).cast("double"), F.lit(1.0)),
            4,
        ),
        "avg_token_len": F.round(
            F.length(F.regexp_replace(F.trim(text), WS, ""))
            / F.greatest(n_tok.cast("double"), F.lit(1.0)),
            4,
        ),
    }


def ngrams(text: Column, n: int = 2) -> Column:
    """Word n-grams (array<string>) as pure column expressions: the token
    array is let-bound once, then a ``transform`` over the start-index
    ``sequence`` slices and joins each window — no explode, no UDF, one
    codegen stage.  Empty array when the document has < n tokens."""

    def build(toks: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
        # guard BEFORE building: sequence(1, 0) is DESCENDING ([1, 0]) in
        # Spark, so a < n-token doc would otherwise slice from index 0.
        return F.when(F.size(toks) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    return let(tokens(F.lower(text)), build)


def repetition_ratio(text: Column, n: int = 2) -> Column:
    """Duplicate n-gram fraction (Gopher-style repetitiousness signal):
    1 − distinct/total over the document's word n-grams, 0.0 for
    documents too short to form one.  Let-bound so the n-gram array is
    built once per row."""

    def ratio(g: Column) -> Column:
        total = F.size(g).cast("double")
        return F.when(
            total > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(g)) / total, 4
            ),
        ).otherwise(F.lit(0.0))

    return let(ngrams(text, n), ratio)


def fingerprint(text: Column, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text,
    truncated.  (Rolling-hash analog; md5 keeps it oracle-checkable.)"""
    return F.substring(F.md5(normalized_text(text)), 1, length)


def logistic_quality_score(text: Column) -> Column:
    """FineWeb-style logistic quality score over the cheap single-pass
    features (log token count, stopword ratio, punctuation density,
    average token length) with fixed public weights — shared by the
    quality_classifier gate and the per-source percentile prune.
    Feature ratios are rounded to 4dp BEFORE the linear form so any
    engine reproducing the rounded features reproduces the score
    bit-for-bit; the score itself is rounded to 4dp."""
    n_tok = token_count(text)
    stop_ratio = F.round(
        stopword_count(text)
        / F.greatest(n_tok.cast("double"), F.lit(1.0)),
        4,
    )
    punct_ratio = F.round(
        punct_count(text)
        / F.greatest(F.length(text).cast("double"), F.lit(1.0)),
        4,
    )
    avg_len = F.round(
        F.length(F.regexp_replace(F.trim(text), WS, ""))
        / F.greatest(n_tok.cast("double"), F.lit(1.0)),
        4,
    )
    z = (
        F.lit(-3.0)
        + F.lit(0.9) * F.log(F.lit(1.0) + n_tok.cast("double"))
        + F.lit(2.5) * stop_ratio
        - F.lit(4.0) * punct_ratio
        + F.lit(0.15) * avg_len
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax marker-profile hit count, 'und' when no
    profile matches.  Pure column expressions → stays JVM-side.  The token
    array is let-bound so the tokenizer runs once per row, not once per
    language profile."""

    def best_of(toks: Column) -> Column:
        scores = [
            F.struct(
                F.size(
                    F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang]))
                ).cast("long").alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang in LANG_MARKERS
        ]
        best = F.array_max(F.array(*scores))
        return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))

    return let(tokens(F.lower(text)), best_of)


__all__ = [
    "LANG_MARKERS",
    "STOPWORDS",
    "bpe_ish_token_count",
    "fingerprint",
    "lang_id",
    "logistic_quality_score",
    "ngrams",
    "normalized_text",
    "punct_count",
    "quality_features",
    "repetition_ratio",
    "stopword_count",
    "token_count",
    "tokens",
]
