"""Incremental dedup — fold a new batch of pages into an already-
deduplicated corpus without recomputing old-vs-old work.

Reference analog: the reference service is *inherently* incremental —
every verification request matches new names against a pre-built
persistent index (`/root/reference/internal/io/pgio/sp_query.go:19-27`
joins request words against standing posting tables). A batch engine
needs the same property explicitly: at 10^12 docs a daily crawl
increment must cost O(|increment| x corpus-postings-touched), never
O(|corpus|^2) — the base corpus is scanned (once, columnar) but only
increment-touching pairs are generated, verified, and clustered.

The one-sided candidate join (pairs sharing a posting key where >= 1
endpoint is NEW) is not here: it is the pair join of the capped
posting engine (operators/postings.py), which every candidate branch
runs for the full and the incremental path alike. This module holds
what is specific to folding in:

- :func:`incremental_jaccard_pairs` — the oracle-grade exact-Jaccard
  variant of the posting join over shingle postings (the incremental
  form of ``verify.exact_jaccard_pairs``).
- :func:`merge_components` — fold the increment's verified edges into
  the standing (doc_id, component_id) assignment by CONTRACTION: old
  components collapse to their component_id (which is the component's
  min doc id), connected components runs on the tiny contracted graph,
  and the resulting merge map broadcasts back over the base assignment.
  Only O(|new edges|) nodes ever enter the CC loop.

Identity guarantee: the merged assignment equals the from-scratch
assignment over (old ∪ new) docs given the same verified-edge
connectivity, because an old component_id IS the minimum doc id of its
members — so the contracted graph's component minima are exactly the
global minima. tests/test_incremental.py asserts this equality
end-to-end against a full pipeline re-run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnames_spark.operators.components import connected_components
from gnames_spark.operators.verify import overlap_jaccard, shingle_overlaps


def incremental_jaccard_pairs(
    new_sets: DataFrame,
    base_sets: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    set_col: str = "shingle_set",
    min_shared: int = 1,
) -> DataFrame:
    """EXACT Jaccard >= threshold for pairs touching >= 1 NEW doc —
    the incremental form of :func:`verify.exact_jaccard_pairs` (same
    posting-list algorithm, no cross join, no arrays shuffled).

    Old-old pairs are never generated: their connectivity is already
    encoded in the base component assignment that
    :func:`merge_components` folds the new edges into.
    """
    overlaps = shingle_overlaps(new_sets, id_col, set_col, min_shared, base_sets=base_sets)
    return overlap_jaccard(overlaps, threshold)


def merge_components(
    base_assign: DataFrame,
    new_edges: DataFrame,
    new_docs: DataFrame,
    max_iterations: int = 50,
    salt_buckets: int | None = None,
    return_map: bool = False,
):
    """Fold increment edges into a standing component assignment.

    ``base_assign``: (doc_id, component_id) over the OLD corpus, where
    component_id is the component's min doc id (what
    ``connected_components`` + ``all_components`` produce).
    ``new_edges``: (src, dst) verified duplicate edges, each touching
    >= 1 new doc. ``new_docs``: the increment (``doc_id`` column used).

    Returns the full updated (doc_id, component_id) over old ∪ new.

    Scale shape (the whole point):
    1. ``base_assign`` is semi-joined down to edge-touched doc_ids
       (broadcast of the touched set) — the 10^12-row base is scanned
       once, never shuffled.
    2. Edges CONTRACT: each old endpoint → its component_id, each new
       endpoint stays itself. The contracted graph has
       <= 2·|new_edges| nodes regardless of corpus size; the CC loop
       runs there.
    3. The resulting merge map (component/node → merged min) is tiny
       and broadcast back over base_assign — untouched rows stream
       through unchanged (BroadcastHashJoin, no base shuffle; at real
       scale write only the changed rows as the table delta).

    With ``return_map=True`` returns ``(assignment, merge_map)`` — the
    map (``_node`` → ``_super``; every contracted node, including
    self-mapped ones) feeds :func:`merge_cluster_summary`.
    """
    touched = (
        new_edges.select(F.col("src").alias("doc_id"))
        .union(new_edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    ba_touched = base_assign.join(F.broadcast(touched), "doc_id", "left_semi")
    src_map = ba_touched.select(F.col("doc_id").alias("src"), F.col("component_id").alias("_ca"))
    dst_map = ba_touched.select(F.col("doc_id").alias("dst"), F.col("component_id").alias("_cb"))
    contracted = (
        new_edges.join(F.broadcast(src_map), "src", "left")
        .join(F.broadcast(dst_map), "dst", "left")
        .select(
            F.coalesce("_ca", F.col("src")).alias("src"),
            F.coalesce("_cb", F.col("dst")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    assign_c = connected_components(
        contracted, max_iterations=max_iterations, salt_buckets=salt_buckets
    )
    # materialize the tiny merge map once: it feeds BOTH relabel
    # branches, and the lineage cut keeps the CC tail (union +
    # dropDuplicates over the star forest) out of the final plan — the
    # relabel is then exactly two broadcast hash joins over the base,
    # zero exchanges (plan-asserted in tests/test_plans.py)
    comp_map = assign_c.select(
        F.col("doc_id").alias("_node"), F.col("component_id").alias("_super")
    ).localCheckpoint(eager=True)
    updated_old = (
        base_assign.join(
            F.broadcast(comp_map), base_assign["component_id"] == F.col("_node"), "left"
        )
        .select("doc_id", F.coalesce("_super", "component_id").alias("component_id"))
    )
    new_assign = (
        new_docs.select("doc_id")
        .join(F.broadcast(comp_map), F.col("doc_id") == F.col("_node"), "left")
        .select("doc_id", F.coalesce("_super", F.col("doc_id")).alias("component_id"))
    )
    out = updated_old.unionByName(new_assign)
    if return_map:
        return out, comp_map
    return out


def remove_docs(
    base_assign: DataFrame,
    edges: DataFrame,
    remove_ids: DataFrame,
    max_iterations: int = 50,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Delete docs from a standing assignment — the hard half of an
    upsert (a re-crawled url is ``remove_docs`` of the old version +
    ``run_incremental`` of the new one).

    Removing a doc can SPLIT its component (it may have been the only
    bridge), so affected components must re-cluster — but ONLY they:

    1. Affected component ids = components containing a removed doc
       (broadcast semi over the standing assignment — scan, no
       shuffle).
    2. Their members and their surviving edges are pulled with
       broadcast joins (verified ``passed`` edges connect only
       same-component docs, so one endpoint in an affected component
       implies both are members).
    3. Connected components re-runs on that sub-graph ONLY; survivors
       with no surviving edge become singletons.
    4. Untouched rows stream through a broadcast anti join.

    ``edges``: the standing verified duplicate edges (src, dst) — kept
    per stage by the checkpoint store. Component-id invariant (ids are
    member minima) is preserved: the sub-clustering yields minima of
    the surviving sub-components, which are global minima.

    Signature-store hygiene is handled separately: pair this with
    :func:`transfer_orphaned_signatures` so that removing a signed
    exact-group representative hands its signature row to a surviving
    byte-identical copy (same content_sha ⇒ identical signature — a
    relabel, not a recompute).
    """
    rm = remove_ids.select("doc_id").distinct()
    affected = (
        base_assign.join(F.broadcast(rm), "doc_id", "left_semi")
        .select("component_id")
        .distinct()
    )
    members = base_assign.join(F.broadcast(affected), "component_id", "left_semi")
    survivors = members.join(F.broadcast(rm), "doc_id", "left_anti").select("doc_id")
    sub_edges = (
        edges.join(F.broadcast(members.select(F.col("doc_id").alias("src"))), "src", "left_semi")
        .join(F.broadcast(rm.select(F.col("doc_id").alias("src"))), "src", "left_anti")
        .join(F.broadcast(rm.select(F.col("doc_id").alias("dst"))), "dst", "left_anti")
    )
    sub_assign = connected_components(
        sub_edges, max_iterations=max_iterations, salt_buckets=salt_buckets
    )
    re_clustered = (
        survivors.join(sub_assign, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component_id", F.col("doc_id")).alias("component_id")
        )
    )
    untouched = base_assign.join(F.broadcast(affected), "component_id", "left_anti")
    return untouched.unionByName(re_clustered)


def transfer_orphaned_signatures(
    base_docs: DataFrame, base_sigs: DataFrame, remove_ids: DataFrame
) -> DataFrame:
    """Signature table after a removal batch — the other half of
    :func:`remove_docs`.

    Only DISTINCT content is signed (the early-exit cascade signs one
    representative per content_sha). If a removal kills that signed
    representative while byte-identical copies survive, the content
    would lose its signature row and later increments could miss
    near-dup candidates against the survivors. Because the signature is
    a pure function of the text, the fix is a relabel: hand the dead
    representative's signature row to the minimum surviving doc of the
    same content_sha. Contents with no survivor drop their row.

    Scale shape: ``remove_ids`` (a removal batch, tiny vs the corpus)
    broadcasts; ``base_docs`` and ``base_sigs`` are each scanned once
    with broadcast semi/anti joins — the standing tables never shuffle.
    The heir choice is a map-side-combined ``groupBy(content_sha).min``
    over only the affected shas' members.
    """
    rm = remove_ids.select("doc_id").distinct()
    # shas whose SIGNED doc is being removed
    dead = (
        base_sigs.select("doc_id")
        .join(F.broadcast(rm), "doc_id", "left_semi")
        .join(base_docs.select("doc_id", "content_sha"), "doc_id")
        .select(F.col("doc_id").alias("_dead"), "content_sha")
    )
    # minimum surviving member of each affected sha (the heir)
    heirs = (
        base_docs.select("doc_id", "content_sha")
        .join(F.broadcast(dead.select("content_sha")), "content_sha", "left_semi")
        .join(F.broadcast(rm), "doc_id", "left_anti")
        .groupBy("content_sha")
        .agg(F.min("doc_id").alias("_heir"))
    )
    transfer = dead.join(F.broadcast(heirs), "content_sha").select("_dead", "_heir")
    kept = base_sigs.join(F.broadcast(rm), "doc_id", "left_anti")
    moved = (
        base_sigs.join(F.broadcast(transfer), base_sigs["doc_id"] == F.col("_dead"))
        .withColumn("doc_id", F.col("_heir"))
        .select(*base_sigs.columns)
    )
    return kept.unionByName(moved)


def merge_cluster_summary(
    base_summary: DataFrame,
    comp_map: DataFrame,
    new_assign: DataFrame,
) -> DataFrame:
    """Maintain the (component_id, n_docs, rep_doc) summary across an
    increment WITHOUT re-aggregating the corpus.

    ``base_summary``: the standing summary (``cluster_summary`` of the
    base). ``comp_map``: :func:`merge_components`'s merge map (every
    old component touched by a new edge, including self-mapped ones).
    ``new_assign``: (doc_id, component_id) for the NEW docs only.

    Shape: untouched summary rows stream through a broadcast left-anti
    join (no shuffle of the standing table); touched rows + new-doc
    counts aggregate over increment-sized sets only. Valid for the
    default min-doc-id representative policy, where ``rep_doc`` equals
    the component id (the component's min) — exactly what
    ``cluster_summary`` produces.
    """
    touched_ids = comp_map.select(F.col("_node").alias("component_id")).distinct()
    untouched = base_summary.join(F.broadcast(touched_ids), "component_id", "left_anti")
    touched_old = (
        base_summary.join(F.broadcast(comp_map), base_summary["component_id"] == F.col("_node"))
        .groupBy(F.col("_super").alias("component_id"))
        .agg(F.sum("n_docs").alias("n_docs"))
    )
    new_counts = new_assign.groupBy("component_id").agg(
        F.count("*").alias("n_docs")
    )
    changed = (
        touched_old.unionByName(new_counts)
        .groupBy("component_id")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
        .withColumn("rep_doc", F.col("component_id"))
    )
    return untouched.unionByName(changed.select(*untouched.columns))
