"""The capped posting-list pair engine — the one candidate-generation join.

Every candidate branch has one shape: docs sharing a posting key — an
LSH (band, bucket_hash), a SimHash (chunk_id, chunk_val), a winnowing
anchor, a sign-LSH (band, bucket), a shingle — are candidate pairs.
Reference analog: the posting-list equi-join of ``sp_query.go:19-27``
with its hot-key truncation (``match_records_map.go:17-22``): a bucket
above ``cap`` postings is dropped *and counted*, never silently (P5 in
SURVEY §4).

:func:`capped_posting_pairs` runs count → cap → overflow → anti-join →
repartition by key → pair join once, for the full and the incremental
path. A full run is an increment with no base: every posting is new
(``_new`` is a literal True), so the one-sided join reduces to the
``a.id < b.id`` self-join and Catalyst folds the flag away
(plan-pinned in tests/test_plans.py: same exchanges, no union). Pairs
are NOT deduped across keys: callers dedup (or count, for
``min_shared_anchors``) in a shuffle they already pay.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def capped_posting_pairs(
    new: DataFrame,
    keys: Sequence[str],
    cap: int | None,
    n_partitions: int | None,
    base: DataFrame | None = None,
    extra_cols: Sequence[str] = (),
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Posting tables ``(id_col, *keys[, *extra_cols])`` → ``(pairs,
    overflow)``.

    ``pairs`` is ``(doc_a < doc_b[, <col>_a, <col>_b])``, one row per
    shared key, every pair touching >= 1 ``new`` posting (all pairs
    when ``base`` is None); ``extra_cols`` (e.g. ``simhash``) are
    swapped consistently with the ids. ``overflow`` is ``(*keys,
    n_docs)`` for the buckets above ``cap``, counted over base ∪ new —
    an increment drops exactly the buckets a fresh run over the
    combined corpus would; the caller logs it. ``cap=None``: no cap,
    empty overflow.

    The join: a NEW posting meets every OLD posting in its bucket
    unconditionally (produced once — old postings never sit on the
    left side), and meets NEW postings only under ``a.id < b.id``.
    With ``n_partitions`` the postings are repartitioned by key once
    and both join sides reuse that exchange (the probe side is only the
    increment; the base posting table streams through once); with None
    the join plans its own exchanges, where AQE's skew-join rule may
    split hot keys.
    """
    keys = list(keys)
    post = new.withColumn("_new", F.lit(True))
    if base is not None:
        post = base.withColumn("_new", F.lit(False)).unionByName(post)
    counts = post.groupBy(*keys).agg(F.count("*").alias("n_docs"))
    if cap is None:
        overflow, kept = counts.limit(0), post
    else:
        overflow = counts.filter(F.col("n_docs") > cap)
        kept = post.join(overflow.select(*keys), keys, "left_anti")
    if n_partitions:
        kept = kept.repartition(n_partitions, *keys)
    a, b = kept.filter("_new").alias("a"), kept.alias("b")
    ida, idb = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    swap = ida > idb

    def ordered(c: str, name_a: str, name_b: str) -> list:
        ca, cb = F.col(f"a.{c}"), F.col(f"b.{c}")
        return [
            F.when(swap, cb).otherwise(ca).alias(name_a),
            F.when(swap, ca).otherwise(cb).alias(name_b),
        ]

    cols = ordered(id_col, "doc_a", "doc_b")
    for c in extra_cols:
        cols += ordered(c, f"{c}_a", f"{c}_b")
    pairs = (
        a.join(b, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
        .filter((~F.col("b._new")) | (ida < idb))
        .filter(ida != idb)
        .select(*cols)
    )
    return pairs, overflow
