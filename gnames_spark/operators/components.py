"""Connected components — iterative large-star/small-star join loop.

Reference analog: lexical grouping, the clustering step that merges all
spelling variants of one name into a LexicalGroup
(`/root/reference/pkg/ent/lexgroup/lexgroup.go:90-116,137-172`). The
reference does it single-pass in Go memory; at 10^12 docs the duplicate
graph doesn't fit anywhere, so we run the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond") — O(log^2 n) rounds of two join+agg steps over
the edge set, converging to a star forest whose centers are the
component minima.

Scale notes:
- The per-node min is a `groupBy().min()` — Spark's hash aggregate does
  map-side partial combine, so hot nodes (boilerplate megaclusters) do
  NOT skew the agg; the join of mins back to the neighbor list is the
  skewed op and runs under AQE skew-join splitting.
- `localCheckpoint(eager=True)` every iteration cuts lineage — without
  it the plan doubles per round and the driver OOMs on plan size.
- Convergence test is a fixed-point check on (edge_count,
  sum(xxhash64(src,dst))) — two scalars per round, no subtract/collect
  of edges.
- Size-selected evaluation (hybrid evaluation, SIGMOD 2021): every star
  round costs several Spark jobs whatever the graph's size, so a graph
  with at most ``LOCAL_FINISH_MAX_EDGES`` normalized edges skips the
  loop and finishes in ONE task — a vectorized numpy union-find. That
  is the common case for increments, whose contracted graphs are tiny.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Normalized edge count at or below which the components finish in one
# task. Per-task memory at the bound, E = 10^6 edges of two int64 ids:
# the Arrow batches and their pandas copy (2 x 16 MB), the 2E endpoint
# ids and np.unique's sorted copy and inverse (3 x 16 MB), the node ids
# and parent array (<= 2E nodes, 16 MB each) and each round's gather
# temporaries — measured 106 MB allocated over the 16 MB input and
# 0.8 s for 10^6 random edges, so ~140 MB in one Python worker.
LOCAL_FINISH_MAX_EDGES = 1_000_000


def _salted_min_join(nb: DataFrame, mins: DataFrame, salt_buckets: int | None) -> DataFrame:
    """Join the per-node min table back onto the neighbor list, spreading
    hot keys over ``salt_buckets`` shuffle partitions with EXACT
    semantics (north_rule: the CC loop is "salted against hot buckets").

    A boilerplate megacluster puts 10^7+ neighbor rows under ONE ``src``
    key — a single shuffle partition — while ``mins`` has exactly one
    row per key. Replicating ``mins`` ×salt (narrow: two longs) and
    salting ``nb`` deterministically by hash(dst) splits the hot key's
    rows across salt_buckets partitions; every (src, dst) row still
    meets its min exactly once. ``None`` skips salting (AQE skew-join
    splitting alone — fine at sandbox scale, opt in for crawl-scale
    clusters).
    """
    if salt_buckets is None:
        return nb.join(mins, "src")
    spark = nb.sparkSession
    salts = spark.range(salt_buckets).select(F.col("id").cast("int").alias("_salt"))
    mins_rep = mins.crossJoin(salts)
    nb_salted = nb.withColumn(
        "_salt", F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).cast("int")
    )
    return nb_salted.join(mins_rep, ["src", "_salt"]).drop("_salt")


def _normalize(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: src > dst, no self-loops, distinct."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )


def _large_star(edges: DataFrame, salt_buckets: int | None = None) -> DataFrame:
    """Attach every neighbor v > u to min(Γ(u) ∪ {u}).

    No dedup here: duplicate edges don't change any min() downstream,
    and small-star dedups once at the end of the round — one shuffle
    saved per iteration. The per-node min is a map-side-combined hash
    agg (hot nodes don't skew it); the min join-back is the skewed op
    and is salted when ``salt_buckets`` is set.
    """
    nb = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        nb.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least("_mn", "src").alias("m"))
    )
    return (
        _salted_min_join(nb, mins, salt_buckets)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame, salt_buckets: int | None = None) -> DataFrame:
    """Attach every smaller neighbor (and u itself) to min(Γ(u));
    output is canonical (src > dst, distinct)."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    with_self = e.select("src", "dst").union(mins.select("src", F.col("src").alias("dst")))
    return (
        _salted_min_join(with_self, mins, salt_buckets)
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .dropDuplicates()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)
        ).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def _union_find(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(node ids, component min id per node) of an edge list.

    Vectorized hook-and-compress: each round every edge hooks the larger
    of its endpoints' roots under the smaller (``np.minimum.at`` keeps
    the smallest bid per root), then pointer jumping flattens every tree
    to depth one. ``parent[x] <= x`` always holds, so each root is its
    tree's minimum; a round with a cross-root edge removes at least one
    root, and the loop stops when every edge joins two nodes of one
    tree. Nodes are indexed in ascending id order, so the minimum index
    is the minimum id."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            break
        np.minimum.at(parent, np.maximum(pu, pv)[cross], np.minimum(pu, pv)[cross])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return ids, ids[parent]


def _local_finish(edges: DataFrame) -> DataFrame:
    """(doc_id, component_id) of a small edge list, in one task: the
    edges coalesce into one partition (narrow, no shuffle) and one
    pandas call runs :func:`_union_find` over all of them."""
    dt = edges.schema["src"].dataType
    schema = StructType([StructField("doc_id", dt), StructField("component_id", dt)])

    def finish(batches):
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        ids, comp = _union_find(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
        yield pd.DataFrame({"doc_id": ids, "component_id": comp})

    return edges.select("src", "dst").coalesce(1).mapInPandas(finish, schema)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    io=None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """(src, dst) edge list → (doc_id, component_id) assignments.

    component_id is the minimum doc id of the component (deterministic,
    matching the reference's best-representative-by-stable-order rule,
    `/root/reference/pkg/gnames_verif.go:92-107`). Nodes that appear in
    no edge are absent — callers attach singletons with
    ``all_components``.

    A graph of at most ``LOCAL_FINISH_MAX_EDGES`` normalized edges
    (counted by the round-0 checksum) finishes in one task instead of
    the star loop; the assignments are identical.

    Fault tolerance: by default each round is ``localCheckpoint``-ed —
    fast, but blocks live on executors, so an executor loss mid-loop
    kills the job. Pass a CheckpointIO (``io``) to write each round to
    reliable storage instead (north_rule resumability): a killed run
    re-reads completed rounds from the store (same config hash) and
    continues from the first missing one — the star iterations are
    deterministic, so the resumed trajectory is identical.
    """
    # cutting lineage EVERY round is load-bearing: the logical plan
    # otherwise grows ~6x per iteration (the star ops nest unions+joins
    # of the previous round's plan) and blows up plan analysis after
    # ~10 rounds.
    spark = edges.sparkSession

    def _cut(round_no: int, build) -> DataFrame:
        if io is not None:
            return io.write_or_reuse(spark, f"cc_round_{round_no:03d}", build)[0]
        return build().localCheckpoint(eager=True)

    e = _cut(0, lambda: _normalize(edges))
    prev = _checksum(e)
    if prev[0] <= LOCAL_FINISH_MAX_EDGES:
        if io is None:
            return _local_finish(e)
        # one store stage, so a resumed run reuses the finished assignment
        got, _ = io.write_or_reuse(spark, "cc_round_final", lambda: _local_finish(e))
        return got
    converged = False
    for i in range(max_iterations):
        prev_e = e
        e = _cut(i + 1, lambda: _small_star(_large_star(prev_e, salt_buckets), salt_buckets))
        cur = _checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")
    # e is now a star forest: (member, root). Roots map to themselves.
    members = e.select(F.col("src").alias("doc_id"), F.col("dst").alias("component_id"))
    roots = e.select(F.col("dst").alias("doc_id"), F.col("dst").alias("component_id")).dropDuplicates()
    return members.union(roots).dropDuplicates(["doc_id"])


def all_components(
    docs: DataFrame, assignments: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Left-join assignments onto the full doc set; singletons become
    their own component (NoMatch analog, SURVEY §2.7 U1)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(assignments, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
        )
    )
