"""Exact (byte-identical) dedup — the cheapest screen, run first.

Reference analog: the bloom-filter exact-match level that gnmatcher
consults before any fuzzy work (`/root/reference/PLAN_gnmatcher_embed.md:14-18`),
and the UUIDv5 content identity of a name string
(`/root/reference/pkg/gnames_verif.go:48`). Here identity is
sha2-256 of the extracted text — computed JVM-side, no UDF.

Scale notes: `groupBy(content_sha)` is one shuffle with map-side
partial aggregation. Exact-dup *pairs* are emitted as star edges
(every member → group-min doc), not all-pairs — a group of n byte-
identical boilerplate pages yields n-1 edges, not n(n-1)/2, and the
star is exactly what connected components needs.

Skew: NO per-sha windows anywhere in this stage. A hot byte-identical
page (empty page, parked-domain boilerplate — easily 10^7 copies in a
crawl) would put the whole group in one task under
`Window.partitionBy(content_sha)`. Instead every per-group value is
computed with `groupBy().agg(...)` (partial aggregation shrinks the
hot key map-side to one row per mapper) and member rows are recovered
with an equi-join that AQE can skew-split and/or runtime-broadcast —
the same fix the representatives stage uses
(`representatives.py:43`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_content_sha(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add deterministic content identity (sha2-256 hex of text)."""
    return docs.withColumn("content_sha", F.sha2(F.col(text_col), 256))


def exact_groups(docs_sha: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(content_sha, n_docs, rep_doc) — one row per distinct content."""
    return docs_sha.groupBy("content_sha").agg(
        F.count("*").alias("n_docs"),
        F.min(id_col).alias("rep_doc"),
    )


def exact_dup_edges(docs_sha: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Star edges (doc_a=group min, doc_b=member) for byte-identical docs.

    Skew-safe: the group minimum comes from a `groupBy().agg(min, count)`
    (map-side combined — a 10^7-copy hot sha contributes one partial row
    per mapper, never one giant task), then members are recovered with an
    equi-join on content_sha that AQE skew-splits. Only groups with >1
    member participate in the join at all.
    """
    groups = (
        docs_sha.groupBy("content_sha")
        .agg(F.min(id_col).alias("doc_a"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("content_sha", "doc_a")
    )
    return (
        docs_sha.select(id_col, "content_sha")
        .join(groups, "content_sha")
        .filter(F.col(id_col) != F.col("doc_a"))
        .select(
            F.col("doc_a"),
            F.col(id_col).alias("doc_b"),
            F.lit("exact").alias("method"),
        )
    )


def distinct_content(docs_sha: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One representative row per distinct content — the early-exit
    cascade (P3 in SURVEY §4): docs already matched byte-identically
    skip the LSH and anchor branches entirely; their cluster membership
    is recovered through the exact star edges. Shrinks N for every
    downstream stage (the reference's exact-hit-suppresses-fuzzy rule,
    `/root/reference/README.md:188-195`).

    Skew-safe AND prune-friendly: the representative id is a map-side-
    combined `groupBy(sha).agg(min(id))`, and the full row is recovered
    with a LEFT SEMI join on the composite (content_sha, id) key — the
    key includes the unique doc id, so a 10^7-copy hot sha spreads its
    rows across partitions instead of pinning one task, and (unlike a
    min_by over a struct of every column, which forces the scan to read
    ALL columns) Catalyst column pruning flows through the semi join:
    a downstream `select(doc_id, text)` reads exactly those columns
    (measured: the struct form made the 120k signature stage read and
    shuffle every column). Exactly one row per sha given unique doc
    ids (the pipeline's doc_id = xxhash64(url) with unique urls per
    batch — prepare_docs' contract).
    """
    reps = docs_sha.groupBy("content_sha").agg(F.min(id_col).alias(id_col))
    return docs_sha.join(reps, ["content_sha", id_col], "left_semi").select(
        *docs_sha.columns
    )
