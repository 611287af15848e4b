"""Exact verification of candidate pairs — Jaccard on shingle sets.

Reference analog: hydration + edit-distance screening — candidates from
the approximate index are joined back to ground truth and filtered
(`/root/reference/internal/io/pgio/match_records_map.go:31-35` is the
join-back, `:75-92` the EditDistance <= 5 cutoff). Here the cutoff is
``jaccard >= cfg.jaccard_threshold``. The pipeline's join-back target is
the docs' text (:func:`verify_candidates`: one pair⋈texts crossing, one
kernel for the sets, the Jaccard and the routed substring check); the
graded rows and recall oracles join back precomputed sets
(:func:`verify_pairs`).

The intersection count is numpy over Arrow batches:
``size(array_intersect)/size(array_union)`` is declaratively cleaner
but Spark's implementation builds a hash set per row — measured ~30 s
for 664k pairs of ~300-element sets at 32 cores, vs ~2 s for
``np.intersect1d`` over Arrow batches.

Scale notes: two shuffled joins (pairs on doc_a, then on doc_b). At
10^12 docs one would bucket the docs by doc_id (Iceberg sorted/bucketed
layout) so both joins co-locate — noted in plans/. AQE handles residual
skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gnames_spark.config import DedupConfig
from gnames_spark.functions.sigkernel import shingle_set_arrays
from gnames_spark.operators.postings import capped_posting_pairs
from gnames_spark.operators.suffix import has_common_substring


def jaccard_rows(set_a, set_b) -> np.ndarray:
    """Exact Jaccard of two int64 arrays per row (0.0 when either side
    is null or empty).

    PRECONDITION: both arrays contain DISTINCT elements — |A| is taken
    as len(A) and the intersection uses assume_unique=True, so duplicate
    elements give silently wrong values. Every in-repo producer
    satisfies this (shingle_set/shingle_set_arrays apply
    array_distinct/np.unique); external callers of verify_pairs must
    pass set-valued columns. (The kernel's >>1 range shift could in
    principle collide two distinct hashes post-unique — probability
    ~2^-63 per pair, accepted.)"""
    out = np.zeros(len(set_a), dtype=np.float64)
    for i, (a, b) in enumerate(zip(set_a, set_b)):
        if a is None or b is None:
            continue
        na, nb = len(a), len(b)
        if na == 0 or nb == 0:
            continue
        ni = len(np.intersect1d(a, b, assume_unique=True))
        out[i] = ni / (na + nb - ni)
    return out


@F.pandas_udf(T.DoubleType())
def _jaccard_udf(set_a: pd.Series, set_b: pd.Series) -> pd.Series:
    return pd.Series(jaccard_rows(set_a, set_b))


def verify_pairs(
    candidates: DataFrame,
    shingle_sets: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    set_col: str = "shingle_set",
) -> DataFrame:
    """(doc_a, doc_b, method) → + (jaccard, passed).

    Exact Jaccard over the distinct-shingle sets of both docs; pairs
    whose either side has an empty set get jaccard 0.0 (they can only
    be duplicates via the exact or substring paths). ``set_col`` MUST
    hold distinct elements per row (see :func:`jaccard_rows`).
    """
    sets_a = shingle_sets.select(
        F.col(id_col).alias("doc_a"), F.col(set_col).alias("_set_a")
    )
    sets_b = shingle_sets.select(
        F.col(id_col).alias("doc_b"), F.col(set_col).alias("_set_b")
    )
    joined = candidates.join(sets_a, "doc_a", "inner").join(sets_b, "doc_b", "inner")
    return (
        joined.withColumn("jaccard", _jaccard_udf("_set_a", "_set_b"))
        .withColumn("passed", F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
        .drop("_set_a", "_set_b")
    )


def verify_candidates(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    route: Column | None = None,
) -> DataFrame:
    """(doc_a, doc_b, method) → (doc_a, doc_b, method, jaccard, passed):
    :func:`verify_pairs` over ``make_shingle_set_udf`` sets, then, on
    the Jaccard failures where the boolean ``route`` holds (None routes
    none), ``suffix.substring_verify``'s check — a pair sharing >=
    ``min_substring_len`` chars passes with method ``"suffix"``, keeping
    its jaccard. Texts join once per side; the kernel builds each
    distinct doc's set once per Arrow batch."""
    k, tau, min_len = cfg.shingle_k, cfg.jaccard_threshold, cfg.min_substring_len
    route = F.lit(False) if route is None else route
    texts_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    texts_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    joined = (
        pairs.select("doc_a", "doc_b", "method", route.alias("_route"))
        .join(texts_a, "doc_a")
        .join(texts_b, "doc_b")
    )

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ids = np.concatenate([pdf["doc_a"].to_numpy(), pdf["doc_b"].to_numpy()])
            texts = pd.concat([pdf["_ta"], pdf["_tb"]], ignore_index=True)
            _, first, inverse = np.unique(ids, return_index=True, return_inverse=True)
            sets = shingle_set_arrays(texts.iloc[first], k)
            jaccard = jaccard_rows([sets[i] for i in inverse[:n]], [sets[i] for i in inverse[n:]])
            passed = jaccard >= tau
            method = pdf["method"].to_numpy(dtype=object, copy=True)
            for i in np.flatnonzero(~passed & pdf["_route"].to_numpy(dtype=bool)):
                if has_common_substring(pdf["_ta"].iat[i], pdf["_tb"].iat[i], min_len):
                    passed[i], method[i] = True, "suffix"
            yield pd.DataFrame({
                "doc_a": pdf["doc_a"], "doc_b": pdf["doc_b"], "method": method,
                "jaccard": jaccard, "passed": passed,
            })

    schema = (
        joined.select("doc_a", "doc_b", "method").schema
        .add("jaccard", T.DoubleType(), False)
        .add("passed", T.BooleanType(), False)
    )
    return joined.mapInPandas(check, schema=schema)


def shingle_overlaps(
    shingle_sets: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "shingle_set",
    min_shared: int = 1,
    base_sets: DataFrame | None = None,
) -> DataFrame:
    """(doc_a < doc_b, n_a, n_b, n_inter) for every pair sharing >=
    ``min_shared`` shingles: set sizes and intersection size.

    Any pair with a nonzero overlap shares >= 1 shingle, so the exact
    pair set is the self-join of the exploded (shingle, doc) posting
    list — the capped posting engine (operators/postings.py) with no
    cap. Intersection sizes come from the group count; no arrays are
    shuffled. With ``base_sets`` (same schema), only pairs touching >=
    1 row of ``shingle_sets`` are generated — the incremental form.
    """

    def posting(df: DataFrame) -> DataFrame:
        return df.select(id_col, F.size(set_col).alias("_n"), F.explode(set_col).alias("shingle"))

    pairs, _ = capped_posting_pairs(
        posting(shingle_sets), ["shingle"], None, None,
        base=None if base_sets is None else posting(base_sets),
        extra_cols=["_n"], id_col=id_col,
    )
    return (
        pairs.groupBy("doc_a", "doc_b", F.col("_n_a").alias("n_a"), F.col("_n_b").alias("n_b"))
        .agg(F.count("*").alias("n_inter"))
        .filter(F.col("n_inter") >= min_shared)
    )


def overlap_jaccard(overlaps: DataFrame, threshold: float) -> DataFrame:
    """:func:`shingle_overlaps` rows → (doc_a, doc_b, jaccard) for the
    pairs at jaccard >= threshold; the union size is |A|+|B|-|A∩B|."""
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return (
        overlaps.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def exact_jaccard_pairs(
    shingle_sets: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    set_col: str = "shingle_set",
    min_shared: int = 1,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold, without a cross join: the
    shingle-posting self-join of :func:`shingle_overlaps`. This is the
    *oracle-grade* exact algorithm (used by the recall gate and the
    DuckDB-comparable query); LSH replaces it at scale only because the
    posting-list join explodes on huge corpora.
    """
    return overlap_jaccard(shingle_overlaps(shingle_sets, id_col, set_col, min_shared), threshold)


def containment_pairs(
    shingle_sets: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    set_col: str = "shingle_set",
    min_shared: int = 1,
) -> DataFrame:
    """EXACT all-pairs shingle CONTAINMENT >= threshold:
    |A ∩ B| / min(|A|, |B|) — "the smaller document is this contained
    in the larger". The dup class Jaccard structurally misses: a short
    page quoted whole inside a long one has J <= |A|/|B| no matter how
    perfect the inclusion (the verify stage's size-ratio prefilter
    PRUNES exactly those pairs, by design — containment is the
    complementary detector for them; reference analog: PartialExact
    match type, /root/reference/pkg/ent/verifier/verifier.go match
    kinds, which the suffix pass covers only for CONTIGUOUS overlap —
    containment also catches scattered inclusion, e.g. a quote split
    by interjections).

    Same posting-list shape as :func:`exact_jaccard_pairs` (no arrays
    shuffled, no cross join); at crawl scale run it on LSH/anchor
    candidates rather than all pairs, exactly like the Jaccard verify.
    """
    cont = F.col("n_inter").cast("double") / F.least("n_a", "n_b").cast("double")
    return (
        shingle_overlaps(shingle_sets, id_col, set_col, min_shared)
        .withColumn("containment", cont)
        .filter(F.col("containment") >= F.lit(threshold))
        .select("doc_a", "doc_b", "containment")
    )
