"""Cluster representative selection.

Reference analog: BestResult per name — after clustering, one canonical
record is chosen per group by a deterministic ordering
(`/root/reference/pkg/gnames_verif.go:82-107`; group-internal ordering
`/root/reference/pkg/ent/lexgroup/lexgroup.go:398-418`). Here: one
kept document per duplicate cluster, the rest are marked duplicates —
the actual *deliverable* of a training-data dedup pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def select_representatives(
    components: DataFrame,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    order_cols: list[Column] | None = None,
) -> DataFrame:
    """(doc_id, component_id) [+ doc attrs] → + (is_representative, rep_doc).

    Default policy: smallest doc_id wins (deterministic). Pass
    ``order_cols`` (ASCENDING sort keys — negate a numeric column for
    quality-first, e.g. [-F.col("quality")]) for a custom policy — the
    analog of the reference ordering groups by has-authors-first then
    arrival index (W3 in SURVEY §2.5). doc_id is appended as the final
    tiebreak, so the choice is always unique.

    Skew note (10^12-doc scale): the rep is a ``groupBy().agg(min_by)``
    — map-side partially combined, so a boilerplate megacluster with
    10^7 members costs each task only its local min, NOT one task
    sorting the whole cluster (the previous row_number() window put the
    entire largest component in a single partition). The join-back of
    the one-row-per-component rep table runs under AQE skew splitting.
    """
    df = components
    if docs is not None:
        df = df.join(docs, df["doc_id"] == docs[id_col], "left").drop(docs[id_col])
    key = F.struct(*(list(order_cols or []) + [F.col("doc_id")]))
    reps = df.groupBy("component_id").agg(F.min_by("doc_id", key).alias("rep_doc"))
    return df.join(reps, "component_id").withColumn(
        "is_representative", F.col("doc_id") == F.col("rep_doc")
    )


def cluster_summary(components: DataFrame) -> DataFrame:
    """(component_id, n_docs, rep_doc) — cluster-level report (the
    LexicalGroup header analog: id + member count,
    `/root/reference/pkg/ent/lexgroup/lexgroup.go:17-41`)."""
    return components.groupBy("component_id").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("rep_doc"),
    )
