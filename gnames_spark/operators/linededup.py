"""Cross-document line-level dedup (the C4-style boilerplate screen).

Doc-level near-dup (MinHash/substring) keeps one copy of a
duplicated PAGE; it does nothing about a navigation bar, cookie banner,
or footer that repeats verbatim across millions of OTHERWISE-distinct
pages. Training-data pipelines therefore also run a line-granular
screen: any line that occurs in >= ``min_docs`` distinct documents is
boilerplate and is stripped from every document that carries it (the
C4 recipe removes any three-sentence span seen more than once; Gopher
and RefinedWeb run the same screen at line granularity).

Reference analog: gnames' stopword/canonical-form trimming
(`/root/reference/pkg/ent/score/auth.go` strips annotation tokens
before comparing) is the per-name version of "remove the tokens that
carry no identity"; at web scale the unit is the repeated line.

Scale design (the part that must survive 10^12 docs):
- Lines shuffle as ``xxhash64(line)`` keys, never as strings — the
  count aggregation ships 16 bytes/row and is map-side combinable.
- No windows anywhere. The hot-line count is a ``groupBy(line_hash)``
  agg; membership is decided by a left join AGAINST that aggregate,
  so a line shared by 10^7 docs costs one combiner cell, not one task.
- The membership join's build side (hot lines) is the small side by
  construction at sane ``min_docs``; AQE picks broadcast when it fits
  and splits probe-side skew when it does not.
- Reassembly is a per-doc ``collect_list`` of that doc's own surviving
  lines — bounded by document size, grouped on ``doc_id`` (the
  natural, unskewed key).

A same-line hash collision (xxhash64 is 64-bit) would strip a
non-boilerplate line; at 10^12 lines the expected collision count is
~0.03 (birthday bound), the same accepted risk as the shingle hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_DELIM = "\n"


def explode_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = DEFAULT_DELIM,
) -> DataFrame:
    """One row per non-empty (after trim) line: (id, line_no, line).

    ``line_no`` is the 0-based position among the doc's RAW splits, so
    reassembly preserves the original relative order of kept lines.
    Empty/whitespace-only lines are dropped (they carry no content and
    would otherwise all collide into one mega hot key). ``delim`` is a
    Java regex (the default ``\\n`` is literal).
    """
    split_col = F.split(F.col(text_col), F.lit(delim), -1)
    return (
        docs.select(id_col, F.posexplode(split_col).alias("line_no", "line"))
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
    )


def shared_lines(
    lines: DataFrame, min_docs: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Lines occurring in >= ``min_docs`` DISTINCT docs.

    Returns (line_hash, n_docs). Distinct-doc counting is exact via a
    pre-distinct on (line_hash, doc_id) — both stages are map-side
    combinable groupBys; a 10^7-doc boilerplate line is one cell.
    """
    return (
        lines.select(F.xxhash64("line").alias("line_hash"), id_col)
        .distinct()
        .groupBy("line_hash")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_shared_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = DEFAULT_DELIM,
) -> DataFrame:
    """Remove every line shared by >= ``min_docs`` distinct docs.

    Returns the input docs with ``text`` replaced by the surviving
    lines (original order, ``delim``-joined; '' when every line was
    boilerplate), plus per-doc audit counts (n_lines, n_shared_lines).
    Docs whose text had no non-empty lines pass through unchanged with
    zero counts. Like the C4 recipe, the rewrite normalizes line
    whitespace as a side effect: kept lines are trimmed and blank
    lines dropped (tests pin this contract).
    """
    lines = explode_lines(docs, text_col, id_col, delim)
    hot = shared_lines(lines, min_docs, id_col).select("line_hash")

    tagged = lines.withColumn("line_hash", F.xxhash64("line")).join(
        hot.withColumn("is_shared", F.lit(True)), "line_hash", "left"
    )
    rebuilt = tagged.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("is_shared"), 1).otherwise(0)).alias("n_shared_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.coalesce(F.col("is_shared"), F.lit(False)),
                            F.struct("line_no", "line"),
                        )
                    )
                ),
                lambda s: s.line,
            ),
            delim,
        ).alias("clean_text"),
    )

    out_cols = [c for c in docs.columns if c != text_col]
    return (
        docs.join(rebuilt, id_col, "left")
        .select(
            *out_cols,
            F.coalesce("clean_text", F.col(text_col)).alias(text_col),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_shared_lines", F.lit(0)).alias("n_shared_lines"),
        )
    )
