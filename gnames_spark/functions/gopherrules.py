"""The Gopher quality-rule battery (Rae et al. 2021, table A1) as one
whole-stage-codegen pass.

Published rule set, reimplemented by every major pipeline (Dolma,
RefinedWeb, DataTrove); ours is the pure-Catalyst form: every rule is
per-row array/string math over the contract tokens and raw lines — no
explode, no shuffle, no Python. The repetition rules from the same
table live in operators/repetition.py (they count each doc's lines and
n-grams, which one Arrow kernel does per row); this module is the rest:

  R1 n_words in [min_words, max_words]          (default 50..100,000)
  R2 mean word length in [3, 10] chars
  R3 symbol-to-word ratio ('#' or '...'/ellipsis) <= 0.1
  R4 <= 90% of lines start with a bullet
  R5 <= 30% of lines end with an ellipsis
  R6 >= 80% of words contain >= 1 alphabetic character
  R7 >= 2 occurrences of Gopher's 8-word stop list
     (the, be, to, of, and, that, have, with)

Every intermediate is emitted alongside the verdict (the curation
pipeline logs WHY a doc failed, not just that it did);
``fail_reasons`` is the sorted list of failed rule names, '' when the
doc passes. Fractions are rounded to 6 digits so the DuckDB oracle
reproduces the verdicts bit-for-bit.

A doc with no tokens or no lines fails R1 (and only the rules whose
denominators exist are evaluated — empty-line docs pass R4/R5
vacuously, matching the reference implementations).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from gnames_spark.functions.shingles import tokenize_sql

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Per-doc Gopher rule metrics + verdict: (id, n_words,
    mean_word_len, symbol_ratio, bullet_line_frac, ellipsis_line_frac,
    alpha_word_frac, n_stopwords, passes, fail_reasons)."""
    toks = f"filter({tokenize_sql(text_col)}, t -> t != '')"
    lines = (
        f"filter(transform(split({text_col}, '\\n', -1), l -> trim(l)), "
        f"l -> l != '')"
    )
    stop_arr = "array(" + ",".join(f"'{w}'" for w in GOPHER_STOPWORDS) + ")"
    exprs = f"""
    element_at(transform(array(struct({toks} as ws, {lines} as ls)), x ->
      struct(
        size(x.ws) as n_words,
        CASE WHEN size(x.ws) = 0 THEN 0.0D ELSE
          round(aggregate(x.ws, 0L, (a, t) -> a + length(t))
                / cast(size(x.ws) as double), 6) END as mean_word_len,
        CASE WHEN size(x.ws) = 0 THEN 0.0D ELSE
          round(size(filter(x.ws, t ->
              t rlike '#' OR t rlike '\\\\.\\\\.\\\\.' OR t rlike '…'))
                / cast(size(x.ws) as double), 6) END as symbol_ratio,
        CASE WHEN size(x.ls) = 0 THEN 0.0D ELSE
          round(size(filter(x.ls, l ->
              l rlike '^([•‣◦*-] )'))
                / cast(size(x.ls) as double), 6) END as bullet_line_frac,
        CASE WHEN size(x.ls) = 0 THEN 0.0D ELSE
          round(size(filter(x.ls, l ->
              l rlike '(\\\\.\\\\.\\\\.|…)$'))
                / cast(size(x.ls) as double), 6) END as ellipsis_line_frac,
        CASE WHEN size(x.ws) = 0 THEN 0.0D ELSE
          round(size(filter(x.ws, t -> t rlike '\\\\p{{L}}'))
                / cast(size(x.ws) as double), 6) END as alpha_word_frac,
        size(filter(x.ws, t -> array_contains({stop_arr}, t))) as n_stopwords
      )), 1)
    """
    m = F.expr(exprs)
    out = docs.select(id_col, m.alias("m")).select(
        id_col,
        F.col("m.n_words").cast("long").alias("n_words"),
        "m.mean_word_len",
        "m.symbol_ratio",
        "m.bullet_line_frac",
        "m.ellipsis_line_frac",
        "m.alpha_word_frac",
        F.col("m.n_stopwords").cast("long").alias("n_stopwords"),
    )
    rules = [
        ("word_count", (F.col("n_words") >= min_words)
                       & (F.col("n_words") <= max_words)),
        ("mean_word_len", (F.col("mean_word_len") >= 3.0)
                          & (F.col("mean_word_len") <= 10.0)),
        ("symbol_ratio", F.col("symbol_ratio") <= 0.1),
        ("bullet_lines", F.col("bullet_line_frac") <= 0.9),
        ("ellipsis_lines", F.col("ellipsis_line_frac") <= 0.3),
        ("alpha_words", F.col("alpha_word_frac") >= 0.8),
        ("stopwords", F.col("n_stopwords") >= 2),
    ]
    fails = F.array_sort(
        F.filter(
            F.array(*[
                F.when(~cond, F.lit(name)).otherwise(F.lit(""))
                for name, cond in rules
            ]),
            lambda s: s != "",
        )
    )
    return out.select(
        "*",
        (F.size(fails) == 0).alias("passes"),
        F.array_join(fails, ",").alias("fail_reasons"),
    )
