"""Text analysis for training-data pipelines — all JVM-side Columns.

No reference counterpart (gnames scores names, not prose); these are
the standard corpus-quality operators a 100 TB text pipeline needs,
expressed as pure Catalyst expressions so they ride whole-stage codegen
(zero Python in the scan path). Each has a DuckDB-expressible oracle in
__spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gnames_spark.functions.shingles import tokenize_sql

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small + frozen: the heuristic must be
# deterministic and cheap, not accurate — swap in a real LID model via
# the same column contract when available.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"],
    "es": ["el", "la", "los", "de", "y", "que", "es", "un", "una", "por"],
}


def token_count(col: str = "text") -> Column:
    """Whitespace token count (contract whitespace class — count is
    case-insensitive so the lowered tokenizer is reused verbatim)."""
    return F.size(F.expr(f"filter({tokenize_sql(col)}, t -> t != '')"))


def pieces_sql(col: str) -> str:
    return f"filter(split(lower({col}), '[^a-z0-9]+'), t -> t != '')"


def stopword_count(col: str, lang: str) -> Column:
    words = STOPWORDS[lang]
    arr = "array(" + ",".join(f"'{w}'" for w in words) + ")"
    return F.expr(
        f"size(filter({tokenize_sql(col)}, t -> array_contains({arr}, t)))"
    )


def langid_heuristic(col: str = "text") -> Column:
    """Predicted language = argmax of stopword hit counts ('und' if no
    hits). Deterministic tie-break: lexically GREATEST language name
    wins (array_max compares (hits, lang) structs; the DuckDB oracle's
    CASE ladder encodes the same fr > es > en > de preference)."""
    scored = [
        F.struct(stopword_count(col, lang).alias("hits"), F.lit(lang).alias("lang"))
        for lang in sorted(STOPWORDS)
    ]
    best = F.array_max(F.array(*scored))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(col: str = "text") -> list[Column]:
    """Length / punctuation / stopword-ratio features (aliased)."""
    n_chars = F.length(col)
    n_tokens = token_count(col)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    n_stop = stopword_count(col, "en")
    safe_tokens = F.when(n_tokens > 0, n_tokens).otherwise(F.lit(1))
    return [
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (n_chars.cast("double") / safe_tokens).alias("avg_token_len"),
        (n_punct.cast("double") / F.when(n_chars > 0, n_chars).otherwise(F.lit(1))).alias(
            "punct_ratio"
        ),
        (n_stop.cast("double") / safe_tokens).alias("stopword_ratio"),
    ]


def quality_score(col: str = "text") -> Column:
    """Scalar quality in [0,1]: product of clamped feature gates —
    the X15 analog (reconciliation feature score = product of weights,
    /root/reference/pkg/reconcile.go:29-87)."""
    n_tokens = token_count(col).cast("double")
    len_gate = F.least(n_tokens / F.lit(50.0), F.lit(1.0))
    stop_gate = F.least(
        stopword_count(col, "en").cast("double")
        / F.greatest(n_tokens * F.lit(0.02), F.lit(1.0)),
        F.lit(1.0),
    )
    n_chars = F.length(col)
    n_punct = n_chars - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    punct_gate = F.when(
        n_punct.cast("double") / F.greatest(n_chars, F.lit(1)) < 0.2, F.lit(1.0)
    ).otherwise(F.lit(0.5))
    return F.round(len_gate * stop_gate * punct_gate, 6)


def rolling_fingerprint(col: str = "text", window: int = 16) -> Column:
    """Document fingerprint: MIN over all ``window``-char polynomial
    rolling hashes mod 2^31 (winnowing-style; stable under appended
    content). Arrow-batched O(n)-per-doc numpy kernel — the previous
    pure-Catalyst form evaluated an interpreted lambda per CHARACTER
    (~18 µs/elem), hours of core-time per TB (functions/fingerprint.py
    has the kernel + value contract)."""
    from gnames_spark.functions.fingerprint import fingerprint

    return fingerprint(col, window=window)


# Unicode script profiling — multilingual curation needs to know WHAT
# script a page is in before any language-level decision (a CJK page
# through a Latin-stopword langid is noise). Script classes are the
# rare regex feature that is byte-identical between Java regex
# (\p{IsHan}) and RE2 (\p{Han}), so the whole profile sits under the
# DuckDB oracle. Counts are per CHARACTER of the given script; the
# dominant script uses the same deterministic argmax shape as
# langid_heuristic (lexically greatest name wins ties).
SCRIPT_CLASSES = {
    "arabic": "IsArabic",
    "cyrillic": "IsCyrillic",
    "han": "IsHan",
    "latin": "IsLatin",
}


def script_counts(col: str = "text") -> list[Column]:
    return [
        F.expr(f"regexp_count({col}, '\\\\p{{{cls}}}')")
        .cast("long")
        .alias(f"n_{name}")
        for name, cls in sorted(SCRIPT_CLASSES.items())
    ]


def dominant_script(col: str = "text") -> Column:
    scored = [
        F.struct(
            F.expr(f"regexp_count({col}, '\\\\p{{{cls}}}')").alias("hits"),
            F.lit(name).alias("script"),
        )
        for name, cls in sorted(SCRIPT_CLASSES.items())
    ]
    best = F.array_max(F.array(*scored))
    return F.when(best["hits"] > 0, best["script"]).otherwise(F.lit("none"))
