"""SimHash 64-bit fingerprints — vectorized numpy inside a pandas UDF.

One fingerprint, over FNV token hashes (:func:`make_fnv_simhash_udf`).
Its callers are the streaming near-dup screen
(streaming/dedup_stream.py), where it is the only near-dup signal, and
the oracle-checked ``dedup_simhash_pairs`` query; both join on
Hamming balls through operators/simhash_join.py. The batch pipeline does
not use SimHash: it verifies shingle Jaccard, so its candidates come
from MinHash LSH bands and winnowing anchors, which match that measure.

Kernel: per doc, unpack each 64-bit token hash into its 64 bits, sum
(+1 for bit set, −1 for clear) over tokens, take the sign per bit
position, repack to one int64, over the flattened token-hash array.
:func:`simhash_array` is the per-list reference form the tests compare
the flat kernel against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def simhash_flat(flat_hashes: np.ndarray, sizes: np.ndarray) -> np.ndarray:
    """int64 SimHash per doc from a flat token-hash array + per-doc sizes."""
    n_docs = len(sizes)
    out = np.zeros(n_docs, dtype=np.int64)
    nonempty = sizes > 0
    if not nonempty.any():
        return out
    flat = np.ascontiguousarray(flat_hashes).view(np.uint64)
    # bits: (total_tokens, 64) uint8 via unpackbits — little-endian bit
    # order, consistent with the chunk extraction in simhash_join.py.
    # (The naive shift-based (N,64) int32 expansion + ±1 contrib arrays
    # measured 23s for 60k docs; this form runs in a few seconds.)
    bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    ne_sizes = sizes[nonempty]
    offsets = np.zeros(len(ne_sizes), dtype=np.int64)
    np.cumsum(ne_sizes[:-1], out=offsets[1:])
    # per-doc contiguous slice sums: 13x faster than np.add.reduceat on
    # 2-D (40ms vs 546ms per 2048-doc batch) — reduceat's axis-0 inner
    # loop is elementwise, slice.sum vectorizes per doc
    ends = np.append(offsets[1:], len(bits))
    counts = np.empty((len(ne_sizes), 64), dtype=np.int64)
    for i, (s, e) in enumerate(zip(offsets, ends)):
        counts[i] = bits[s:e].sum(axis=0, dtype=np.int64)
    # sign of Σ(2b-1) = 2*count - n  →  bit set iff 2*count >= n
    sign_bits = (2 * counts >= ne_sizes[:, None]).astype(np.uint8)
    packed = np.packbits(sign_bits, axis=1, bitorder="little")
    out[nonempty] = packed.view(np.int64).ravel()
    return out


def simhash_array(token_hash_lists: list[np.ndarray]) -> np.ndarray:
    """int64 SimHash per doc for a batch of token-hash arrays."""
    n_docs = len(token_hash_lists)
    sizes = np.fromiter((len(t) for t in token_hash_lists), dtype=np.int64, count=n_docs)
    if not (sizes > 0).any():
        return np.zeros(n_docs, dtype=np.int64)
    flat = np.concatenate(
        [np.asarray(t, dtype=np.int64) for t, sz in zip(token_hash_lists, sizes) if sz > 0]
    )
    return simhash_flat(flat, sizes)


def hamming64(a: int, b: int) -> int:
    """Hamming distance between two int64 fingerprints — test helper."""
    return int(bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1"))


# --------------------------------------------------------------------------
# Oracle-reproducible token hash: FNV-1a (32-bit, two bases) over the
# first FNV_PREFIX codepoints of a token plus its length. Chosen so the
# EXACT same fingerprint is computable in DuckDB SQL (32-bit products fit
# in UBIGINT without overflow — 64-bit FNV cannot wrap there), which
# puts the SimHash Hamming-ball join under the driver's value-hash gate.
# --------------------------------------------------------------------------

FNV_PRIME = 16777619
FNV_BASIS1 = 2166136261
FNV_BASIS2 = 3339675911
FNV_PREFIX = 8
_FNV_MASK32 = np.uint64(0xFFFFFFFF)


def fnv_token_hashes(flat_tokens: np.ndarray, token_lens: np.ndarray) -> np.ndarray:
    """uint64 hash per token: (fnv1a32(token, BASIS1) << 32) |
    fnv1a32(token, BASIS2), where fnv1a32 folds the first FNV_PREFIX
    codepoints then the token length. Vectorized: one utf-32 decode of
    the concatenated tokens + FNV_PREFIX+1 masked fold rounds."""
    n = len(flat_tokens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    joined = "".join(flat_tokens)
    codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(token_lens[:-1], out=starts[1:])
    prime = np.uint64(FNV_PRIME)
    hs = []
    for basis in (FNV_BASIS1, FNV_BASIS2):
        h = np.full(n, basis, dtype=np.uint64)
        for j in range(FNV_PREFIX):
            valid = token_lens > j
            idx = np.where(valid, starts + j, 0)
            cj = codes[idx]
            folded = ((h ^ cj) * prime) & _FNV_MASK32
            h = np.where(valid, folded, h)
        h = ((h ^ token_lens.astype(np.uint64)) * prime) & _FNV_MASK32
        hs.append(h)
    return (hs[0] << np.uint64(32)) | hs[1]


def make_fnv_simhash_udf():
    """pandas UDF: text → int64 SimHash over FNV token hashes.

    Tokenization matches the kernel contract (lower + whitespace split);
    the DuckDB-equivalent SQL lives in __spark_entry__._DK_SIMHASH_SQL.
    """

    @F.pandas_udf(T.LongType())
    def fnv_simhash_udf(texts: pd.Series) -> pd.Series:
        toks = texts.fillna("").str.lower().str.split()
        sizes = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        total = int(sizes.sum())
        if total == 0:
            return pd.Series(np.zeros(len(toks), dtype=np.int64))
        flat = np.empty(total, dtype=object)
        pos = 0
        for t in toks:
            if t:
                flat[pos : pos + len(t)] = t
                pos += len(t)
        token_lens = np.fromiter((len(t) for t in flat), dtype=np.int64, count=total)
        th = fnv_token_hashes(flat, token_lens)
        return pd.Series(simhash_flat(th, sizes))

    return fnv_simhash_udf
