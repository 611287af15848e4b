"""MinHash primitives: the permutation family and the reference
MinHash matrix.

The pipeline's MinHash runs inside the fused signature kernel
(functions/sigkernel.py ``minhash_flat``), which draws its permutations
from :func:`perm_params` / :func:`splitmix64`. :func:`minhash_matrix`
is the per-document reference the property tests compare it against.

Permutation family: h_i(x) = splitmix64(x XOR seed_i) — a full-width
64-bit finalizer per permutation, exact in numpy uint64 arithmetic (no
Python bigints in the hot loop). Empirically matches the theoretical
MinHash estimator error (~0.022 mean |err| at 256 perms), whereas the
classic (a*x32+b) mod p family on folded 32-bit keys showed ~2x bias.
"""

from __future__ import annotations

import numpy as np

# Sentinel signature value for empty docs: int64 max (practically never
# produced by splitmix64 min over a non-empty set, so empty docs collide
# only with other empty docs; they are filtered out of LSH upstream).
EMPTY_SENTINEL = (1 << 63) - 1


def perm_params(num_perms: int, seed: int) -> np.ndarray:
    """Seeded per-permutation xor-seeds; identical across executors."""
    rng = np.random.RandomState(seed)
    return rng.randint(0, 1 << 63, size=num_perms).astype(np.uint64)


def splitmix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized uint64 (overflow-exact)."""
    z = z.copy()
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def minhash_matrix(shingle_lists: list[np.ndarray], seeds: np.ndarray) -> np.ndarray:
    """(docs × perms) int64 MinHash matrix for a batch of shingle arrays.

    Loops over permutations (not docs): each of the ``num_perms``
    iterations is one vectorized splitmix64 pass over the flattened
    shingle array plus one ``np.minimum.reduceat`` — O(perms × total
    shingles) work, O(total_shingles + perms × docs) memory.
    """
    num_perms = len(seeds)
    n_docs = len(shingle_lists)
    sizes = np.fromiter((len(s) for s in shingle_lists), dtype=np.int64, count=n_docs)
    out = np.full((n_docs, num_perms), EMPTY_SENTINEL, dtype=np.int64)
    nonempty = sizes > 0
    if not nonempty.any():
        return out
    flat = np.concatenate(
        [np.asarray(s, dtype=np.int64) for s, sz in zip(shingle_lists, sizes) if sz > 0]
    ).view(np.uint64)
    ne_sizes = sizes[nonempty]
    offsets = np.zeros(len(ne_sizes), dtype=np.int64)
    np.cumsum(ne_sizes[:-1], out=offsets[1:])
    mins = np.empty((len(ne_sizes), num_perms), dtype=np.int64)
    for i in range(num_perms):
        v = splitmix64(flat ^ seeds[i])
        # shift to non-negative int64 range so min is order-preserving
        mins[:, i] = (np.minimum.reduceat(v, offsets) >> np.uint64(1)).astype(np.int64)
    out[nonempty] = mins
    return out


def estimate_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Fraction of agreeing permutations — test/oracle helper."""
    sig_a = np.asarray(sig_a)
    sig_b = np.asarray(sig_b)
    return float((sig_a == sig_b).mean())
