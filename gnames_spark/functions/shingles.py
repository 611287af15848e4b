"""k-shingle generation — entirely JVM-side (whole-stage codegen).

The reference's analog is its 3-level canonical-form normalization
(`canonicals`/`canonical_fulls`/`canonical_stems`,
`/root/reference/migrations/gnames.hcl:1-42`): a precomputed match key per
name. Here the match key is the set of hashed word k-grams of the
document text.

Design note (scale): no Python runs here. Tokenization, sliding-window
k-grams and xxhash64 are Catalyst expressions, so the whole stage
compiles into WholeStageCodegen and shingles never materialize as
Python objects. These expressions are the oracle path of the
DuckDB-checked queries in ``__spark_entry__.py``; the pipeline's fused
pandas kernel (functions/sigkernel.py) satisfies the same tokenization
contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Unicode tokenization contract (pinned; goldens in tests/test_unicode.py):
# - A token is a maximal run between characters of the EXPLICIT whitespace
#   class below — exactly Python str.split()'s set (Unicode White_Space
#   plus U+001C..001F). Written out because Java regex \s is ASCII-only
#   and RE2 (DuckDB) \s is ASCII-only too; an implicit \s silently
#   diverges from the pandas kernel path on NBSP / ideographic space.
# - Lowercasing is full Unicode lowercase: JVM lower() == Python
#   str.lower() (golden-verified incl. U+0130, ligatures, Greek). DuckDB
#   lower() is utf8proc SIMPLE lowercase, which differs on context and full-mapping
#   codepoints (e.g. U+0130 İ -> 'i' vs 'i'+U+0307); oracle corpora must
#   avoid those few codepoints (the goldens assert the divergence set).
# - No unicode normalization is applied: byte-identical input text ->
#   identical tokens (north_rule byte-determinism holds at the
#   tokenization layer).
# The pandas kernels (functions/sigkernel.py tokenize_batch:
# .str.lower().str.split(), shared by the signature and repetition
# kernels) satisfy this contract by construction.
# --------------------------------------------------------------------------

# Spark SQL literal form (Spark's SQL parser unescapes \\ -> \):
WS_CLASS_JAVA = r"[\\x{9}-\\x{d}\\x{1c}-\\x{1f}\\x{85}\\p{Zs}\\x{2028}\\x{2029}]"
# DuckDB literal form (no escape processing in standard string literals):
WS_CLASS_RE2 = r"[\x{9}-\x{d}\x{1c}-\x{1f}\x{85}\p{Zs}\x{2028}\x{2029}]"


def tokenize_sql(col: str, lower: bool = True) -> str:
    """Spark SQL fragment: whitespace-run split of ``col`` per the
    contract above (may include empty strings; callers filter)."""
    inner = f"lower({col})" if lower else col
    return "split(" + inner + ", '" + WS_CLASS_JAVA + "+')"


def tokens(col: str = "text") -> Column:
    """Lowercased whitespace tokens of ``col`` (drops empty tokens)."""
    return F.expr(f"filter({tokenize_sql(col)}, t -> t != '')")


def _bind_tokens(col: str, body: str, k: int) -> str:
    """Evaluate the tokenizer ONCE per row and bind it as lambda var
    ``ws`` inside ``body``.

    Higher-order expressions are interpreted (no codegen), and a
    textually-inlined tokenizer would re-run per shingle position —
    O(n^2) per document (measured 50.9s vs 4s for 60k docs). The
    single-element ``transform(array(toks), ws -> ...)`` trick gives the
    lambda a bound variable without needing an intermediate column.
    """
    toks = f"filter({tokenize_sql(col)}, t -> t != '')"
    return (
        f"element_at(transform(array({toks}), ws -> "
        f"CASE WHEN size(ws) < {k} THEN array() ELSE {body} END), 1)"
    )


def shingle_strings(col: str = "text", k: int = 5) -> Column:
    """Word k-gram strings (space-joined). Used by oracles and tests;
    the pipeline uses :func:`shingles` (hashed) to keep rows narrow."""
    body = (
        f"transform(sequence(1, size(ws) - {k} + 1), "
        f"i -> concat_ws(' ', slice(ws, i, {k})))"
    )
    return F.expr(_bind_tokens(col, body, k))


def shingles(col: str = "text", k: int = 5) -> Column:
    """Hashed word k-shingles: array<long> of xxhash64(k-gram).

    A document shorter than k words yields an empty array; such docs are
    routed around the MinHash branch (they are still exact-dedupable via
    content hash) — the analog of the reference treating uninomials as
    exact-match-only by default (`/root/reference/README.md:46-47`).
    """
    body = (
        f"transform(sequence(1, size(ws) - {k} + 1), "
        f"i -> xxhash64(concat_ws(' ', slice(ws, i, {k}))))"
    )
    return F.expr(_bind_tokens(col, body, k))


def shingle_set(col: str = "text", k: int = 5) -> Column:
    """Distinct hashed shingles — the set used for exact Jaccard."""
    return F.array_distinct(shingles(col, k))
