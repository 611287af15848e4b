"""Long exact-substring dedup — winnowing anchors + probe-and-extend check.

Reference analog: PartialExact matching — a name matching only a
sub-part of another (`/root/reference/README.md:47-50`), found via a
dedicated index pass rather than the main fuzzy path. Here: pages that
embed one long (>= min_substring_len chars) exact substring inside
otherwise-different text, which shingle-Jaccard under-scores.

Two stages:
1. **Anchor candidates**: each doc's winnowing anchors (the window
   minima of its in-order shingle hashes, ``sigkernel.winnow_anchors``)
   — any shared run of >= ``winnow_window`` shingles holds a shared
   anchor, so ``cfg.substring_guarantee_chars()`` shared chars
   guarantee ``min_shared_anchors`` of them. Posting lists of anchors
   self-join through the capped posting engine (the same J1 join shape
   and per-key cap as LSH buckets): :func:`anchor_pairs_from_anchors`.
2. **Substring verification** (:func:`has_common_substring`): probes
   of ceil(min_substring_len/2) chars from ``a`` found in ``b`` with
   ``str.find``, each extended left and right by direct slice compares
   — no hashing, exact and deterministic. The pipeline runs it in
   ``verify.verify_candidates``'s kernel on the routed Jaccard
   failures; :func:`substring_verify` is the standalone form (the
   graded row). :func:`lcs_length_sa` (generalized suffix array + LCP)
   is the LCS reference it is pytest-pinned to.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.operators.postings import capped_posting_pairs


def _suffix_array(codes: np.ndarray) -> np.ndarray:
    """Suffix array by prefix doubling — O(n log n) lexsort rounds,
    all rank bookkeeping vectorized."""
    n = len(codes)
    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.concatenate(
        ([0], np.cumsum(sorted_codes[1:] != sorted_codes[:-1]))
    )
    k = 1
    while k < n and rank[order[-1]] != n - 1:
        rank2 = np.full(n, -1, dtype=np.int64)
        rank2[: n - k] = rank[k:]
        order = np.lexsort((rank2, rank))
        r1, r2 = rank[order], rank2[order]
        bumped = (r1[1:] != r1[:-1]) | (r2[1:] != r2[:-1])
        new = np.concatenate(([0], np.cumsum(bumped)))
        rank = np.empty(n, dtype=np.int64)
        rank[order] = new
        k *= 2
    return order


def _lcp_kasai(codes: np.ndarray, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP array: lcp[r] = longest common prefix of suffixes
    sa[r-1] and sa[r]. O(n) total (the while loop amortizes)."""
    n = len(codes)
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    lcp = np.zeros(n, dtype=np.int64)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            while i + h < n and j + h < n and codes[i + h] == codes[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def lcs_length_sa(a: str, b: str) -> int:
    """Exact longest-common-substring length via a generalized suffix
    array + LCP (the textbook suffix-array pass): concatenate a, a
    sentinel above any codepoint, then b; the LCS is the max LCP
    between ADJACENT suffixes originating in different docs.

    The LCS reference: pytest pins it to an O(nm) DP and
    :func:`has_common_substring` to ``lcs_length_sa(a, b) >= L``."""
    if not a or not b:
        return 0
    a_codes = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    b_codes = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    sep = np.array([0x110000], dtype=np.int64)  # > any Unicode codepoint
    codes = np.concatenate([a_codes, sep, b_codes])
    sa = _suffix_array(codes)
    lcp = _lcp_kasai(codes, sa)
    is_a = sa < len(a_codes)  # suffixes starting inside a (sep excluded
    is_sep = sa == len(a_codes)  # from both sides)
    prev_a, prev_sep = np.roll(is_a, 1), np.roll(is_sep, 1)
    cross = (is_a != prev_a) & ~is_sep & ~prev_sep
    cross[0] = False
    if not cross.any():
        return 0
    return int(lcp[cross].max())


def has_common_substring(a: str, b: str, min_len: int) -> bool:
    """True iff a and b share an exact substring of >= min_len chars.

    Probe and extend, all in C string search and slice compares: with
    m = ceil(L/2) and s = L + 1 - m, every length-L window of ``a``
    holds a probe a[i:i+m] with i a multiple of s. At each occurrence j
    of a probe in ``b``, a binary search finds the longest left
    extension x <= min(i, j, L-m) (slice equality is monotone in x);
    the pair passes iff the other L-m-x chars match on the right, with
    both right slices inside their texts. Raw chars are compared, so a
    pass is exact; the probe argument makes every shared window found.
    """
    L = min_len
    if not a or not b or len(a) < L or len(b) < L:
        return False
    m = (L + 1) // 2
    s = L + 1 - m
    for i in range(0, len(a) - m + 1, s):
        probe = a[i : i + m]
        j = b.find(probe)
        while j >= 0:
            lo, hi = 0, min(i, j, L - m)
            while lo < hi:
                x = (lo + hi + 1) // 2
                if a[i - x : i] == b[j - x : j]:
                    lo = x
                else:
                    hi = x - 1
            end_a, end_b = i + L - lo, j + L - lo
            if end_a <= len(a) and end_b <= len(b) and a[i + m : end_a] == b[j + m : end_b]:
                return True
            j = b.find(probe, j + 1)
    return False


def shared_anchor_pairs(pairs: DataFrame, min_shared: int) -> DataFrame:
    """Keep the anchor-engine pairs sharing >= ``min_shared`` distinct
    anchors (one engine row per shared anchor; deduped as a side effect
    when ``min_shared > 1``). >= min_substring_len shared chars
    guarantees >= 2 distinct winnow anchors (see config); single shared
    anchors are overwhelmingly shingle coincidences in low-entropy text
    and would flood the LCS verifier."""
    if min_shared <= 1:
        return pairs.select("doc_a", "doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_shared)
        .drop("_n_shared")
    )


def anchor_pairs_from_anchors(
    anchors: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, anchor) posting list → (candidate pairs, overflow stats).
    The anchors run through the capped posting engine
    (operators/postings.py) with ``cfg.anchor_cap``."""
    pairs, overflow = capped_posting_pairs(
        anchors, ["anchor"], cfg.anchor_cap, cfg.shuffle_partitions, id_col=id_col
    )
    pairs = shared_anchor_pairs(pairs, cfg.min_shared_anchors)
    if cfg.min_shared_anchors <= 1:
        pairs = pairs.dropDuplicates(["doc_a", "doc_b"])
    return pairs.withColumn("method", F.lit("anchor")), overflow


def substring_verify(
    pairs: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Verify candidate pairs for a shared >= min_substring_len substring.

    Joins texts onto the pairs (two shuffles) then streams Arrow batches
    through :func:`has_common_substring`. Output:
    (doc_a, doc_b, passed, method='suffix')."""
    min_len = cfg.min_substring_len
    texts_a = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    texts_b = docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    joined = pairs.select("doc_a", "doc_b").join(texts_a, "doc_a").join(texts_b, "doc_b")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            passed = [
                has_common_substring(ta, tb, min_len)
                for ta, tb in zip(pdf["_ta"], pdf["_tb"])
            ]
            yield pd.DataFrame(
                {"doc_a": pdf["doc_a"], "doc_b": pdf["doc_b"], "passed": passed}
            )

    out_schema = (
        joined.select("doc_a", "doc_b").schema.add("passed", "boolean", False)
    )
    return (
        joined.mapInPandas(check, schema=out_schema)
        .withColumn("method", F.lit("suffix"))
    )
