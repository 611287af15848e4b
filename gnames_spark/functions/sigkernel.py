"""Fused signature kernel — ONE Arrow crossing for all per-doc signatures.

Computes tokens → token hashes → shingle hashes → MinHash → LSH band
hashes → anchor sample in a single vectorized pandas UDF.

Why this exists (measured on 120k synthetic pages, local[32]):
producing the shingle arrays with Catalyst higher-order expressions
(`transform(sequence(...), i -> xxhash64(concat_ws(' ', slice(ws,i,k))))`)
costs ~18 µs/shingle — interpreted lambdas, no codegen — ≈25 s of wall
per materialization, and caching the resulting `array<long>` columns in
the in-memory columnar store costs another ~1.2 µs/element (45 s for a
36M-element column; parquet-writing them is no better because the
near-unique hashes thrash the dictionary encoder). The fused kernel does
the same work in ~2 s of numpy and returns only *narrow* columns —
`bands` (b int64s), `n_shingles` (1), `anchors` (the winnowing
minima, ~2·n_shingles/(winnow_window+1)) — so nothing wide is ever
cached or shuffled. Full shingle sets are recomputed on demand by the
same code (:func:`shingle_set_arrays`, so hashes are identical) for just
the docs in a batch of candidate pairs (``operators/verify.py``).

Reference analog: the gnmatcher candidate index is *precomputed once into
a compact cache* (bloom filters + trie, `/root/reference/PLAN_gnmatcher_embed.md:12-19`)
rather than re-deriving per query — same economics: store the small
derived index (bands/anchors), not the raw match keys.

Determinism: token hashing is ``pandas.util.hash_array`` (SipHash with
pandas' fixed default key) and everything downstream is seeded integer
arithmetic — a pure function of (text, config), independent of batch or
partition boundaries (north_rule requirement).

Hash-relabeling invariance: Jaccard, MinHash collision probability and
band agreement depend only on the *identity structure* of the shingle
multiset, not on which injective 64-bit labels the shingles carry, so the
pipeline's results are comparable to the JVM-expression oracle path in
`functions/shingles.py` (used by the DuckDB-checked driver queries) up to
2^-64-scale hash collisions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gnames_spark.config import DedupConfig
from gnames_spark.functions.minhash import EMPTY_SENTINEL, perm_params, splitmix64


def poly_coeffs(n: int, salt: int) -> np.ndarray:
    """n deterministic odd 64-bit constants (position coefficients for
    polynomial hash combining); odd → multiplication is a bijection
    mod 2^64."""
    base = np.uint64(0x9E3779B97F4A7C15)
    vals = splitmix64(np.arange(1, n + 1, dtype=np.uint64) * base ^ np.uint64(salt))
    return vals | np.uint64(1)


def tokenize_batch(texts: pd.Series) -> pd.Series:
    """Lowercase whitespace tokens per doc (a null text has none).
    Satisfies the unicode contract pinned in functions/shingles.py
    (explicit whitespace class == Python str.split's set; full-unicode
    lowercase) by construction — golden-verified against the JVM path
    incl. non-ASCII whitespace (tests/test_unicode.py)."""
    return texts.fillna("").str.lower().str.split()


def tokenize_hash_batch(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """:func:`tokenize_batch` → (flat uint64 token hashes, per-doc token
    counts)."""
    toks = tokenize_batch(texts)
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.uint64), lens
    flat = np.empty(total, dtype=object)
    pos = 0
    for t in toks:
        n = len(t)
        if n:
            flat[pos : pos + n] = t
            pos += n
    return pd.util.hash_array(flat), lens


def shingle_hashes_flat(
    th: np.ndarray, lens: np.ndarray, k: int, coeffs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Hashes of all word k-shingles, flat across the batch.

    Shingle hash = splitmix64(Σ_j coeffs[j]·token_hash[i+j] mod 2^64) —
    k vectorized multiply-adds over the flat token array; windows that
    would cross a document boundary are dropped. Returns (flat shingle
    hashes grouped by doc in order, per-doc shingle counts)."""
    n_docs = len(lens)
    counts = np.maximum(lens - k + 1, 0)
    total = len(th)
    if total < k or int(counts.sum()) == 0:
        return np.empty(0, np.uint64), np.zeros(n_docs, dtype=np.int64)
    m = total - k + 1
    S = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        S += th[j : j + m] * coeffs[j]
    S = splitmix64(S)
    starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    keep = [np.arange(s, s + c) for s, c in zip(starts, counts) if c > 0]
    return S[np.concatenate(keep)], counts


def minhash_flat(S: np.ndarray, counts: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """(docs × perms) int64 MinHash matrix from flat shingle hashes.
    Same permutation family and >>1 range-shift as
    functions/minhash.py:minhash_matrix (duplicate shingles don't affect
    a min, so no per-doc dedup is needed here)."""
    num_perms = len(seeds)
    n_docs = len(counts)
    out = np.full((n_docs, num_perms), EMPTY_SENTINEL, dtype=np.int64)
    nonempty = counts > 0
    if not nonempty.any():
        return out
    ne_counts = counts[nonempty]
    offsets = np.zeros(len(ne_counts), dtype=np.int64)
    np.cumsum(ne_counts[:-1], out=offsets[1:])
    mins = np.empty((len(ne_counts), num_perms), dtype=np.int64)
    for i in range(num_perms):
        v = splitmix64(S ^ seeds[i])
        mins[:, i] = (np.minimum.reduceat(v, offsets) >> np.uint64(1)).astype(np.int64)
    out[nonempty] = mins
    return out


def band_hashes(mat: np.ndarray, bands: int, rows: int, coeffs: np.ndarray) -> np.ndarray:
    """(docs × bands) int64 LSH bucket hashes: polynomial-combine each
    band's r signature values, splitmix64-finalize."""
    n_docs = mat.shape[0]
    u = mat.astype(np.uint64).reshape(n_docs, bands, rows)
    B = np.zeros((n_docs, bands), dtype=np.uint64)
    for j in range(rows):
        B += u[:, :, j] * coeffs[j]
    return (splitmix64(B) >> np.uint64(1)).astype(np.int64)


def make_signature_udf(cfg: DedupConfig):
    """pandas UDF: text → struct(bands, n_shingles, anchors). One Arrow
    crossing per batch."""
    seeds = perm_params(cfg.num_perms, cfg.minhash_seed)
    kcoef = poly_coeffs(cfg.shingle_k, 101)
    bcoef = poly_coeffs(cfg.rows_per_band, 202)
    b, r, wwin = cfg.bands, cfg.rows_per_band, cfg.winnow_window
    schema = T.StructType([
        T.StructField("bands", T.ArrayType(T.LongType()), False),
        T.StructField("n_shingles", T.IntegerType(), False),
        T.StructField("anchors", T.ArrayType(T.LongType()), False),
    ])
    empty = np.empty(0, dtype=np.int64)

    @F.pandas_udf(schema)
    def signature_udf(texts: pd.Series) -> pd.DataFrame:
        th, lens = tokenize_hash_batch(texts)
        S, counts = shingle_hashes_flat(th, lens, cfg.shingle_k, kcoef)
        mat = minhash_flat(S, counts, seeds)
        bandh = band_hashes(mat, b, r, bcoef)
        offsets = np.zeros(len(counts), dtype=np.int64)
        if len(counts):
            np.cumsum(counts[:-1], out=offsets[1:])
        n_sh = np.zeros(len(counts), dtype=np.int32)
        anchors: list[np.ndarray] = []
        for i, (s, c) in enumerate(zip(offsets, counts)):
            if c == 0:
                anchors.append(empty)
                continue
            seq = S[s : s + c]
            n_sh[i] = len(np.unique(seq))
            # winnowing anchors (see winnow_anchors): far fewer random
            # cross-doc collisions than mod-sampling (which emitted 1.9M
            # candidate pairs at 120k docs).
            anchors.append(winnow_anchors(seq, wwin))
        return pd.DataFrame({
            # empty docs keep an empty bands array so a stray unfiltered
            # explode can never bucket them together
            "bands": [bandh[i] if counts[i] > 0 else empty for i in range(len(counts))],
            "n_shingles": pd.Series(n_sh),
            "anchors": anchors,
        })

    return signature_udf


def winnow_anchors(seq: np.ndarray, wwin: int) -> np.ndarray:
    """Distinct winnowing anchors (window minima, value-based) of one
    doc's in-order shingle-hash sequence, range-shifted to int64.

    Guarantee (Schleimer et al. 2003, adapted): any run of >= wwin
    consecutive shingles shared verbatim by two docs contains at least
    one full window, whose min is identical in both — so a shared
    substring of >= (wwin + shingle_k - 1) tokens always yields a
    shared anchor."""
    if len(seq) == 0:
        return np.empty(0, dtype=np.int64)
    if len(seq) <= wwin:
        wins = np.array([seq.min()], dtype=np.uint64)
    else:
        wins = np.lib.stride_tricks.sliding_window_view(seq, wwin).min(axis=1)
    # distinctness must hold AFTER the >>1 range shift: two adjacent
    # uint64 minima (2m, 2m+1) collapse to the same int64 anchor
    return np.unique((wins >> np.uint64(1)).astype(np.int64))


def make_anchor_udf(cfg: DedupConfig):
    """pandas UDF: text → array<long> winnowing anchors ONLY — the light
    path for the standalone substring-dedup query (no MinHash work).
    Identical tokenizer/coefficients to :func:`make_signature_udf` so
    anchors agree with the fused kernel's."""
    kcoef = poly_coeffs(cfg.shingle_k, 101)
    wwin = cfg.winnow_window
    empty = np.empty(0, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def anchor_udf(texts: pd.Series) -> pd.Series:
        th, lens = tokenize_hash_batch(texts)
        S, counts = shingle_hashes_flat(th, lens, cfg.shingle_k, kcoef)
        offsets = np.zeros(len(counts), dtype=np.int64)
        if len(counts):
            np.cumsum(counts[:-1], out=offsets[1:])
        out = [
            winnow_anchors(S[s : s + c], wwin) if c > 0 else empty
            for s, c in zip(offsets, counts)
        ]
        return pd.Series(out)

    return anchor_udf


def shingle_set_arrays(texts: pd.Series, k: int) -> list[np.ndarray]:
    """Distinct int64 shingle hashes per doc (an empty array for a doc
    with fewer than ``k`` tokens). Same tokenizer/coefficients as
    :func:`make_signature_udf`, so these are exactly the sets the
    signatures were built from."""
    th, lens = tokenize_hash_batch(texts)
    S, counts = shingle_hashes_flat(th, lens, k, poly_coeffs(k, 101))
    offsets = np.zeros(len(counts), dtype=np.int64)
    if len(counts):
        np.cumsum(counts[:-1], out=offsets[1:])
    empty = np.empty(0, dtype=np.int64)
    return [
        (np.unique(S[s : s + c]) >> np.uint64(1)).astype(np.int64) if c > 0 else empty
        for s, c in zip(offsets, counts)
    ]


def make_shingle_set_udf(cfg: DedupConfig):
    """pandas UDF: text → array<long> distinct shingle hashes
    (:func:`shingle_set_arrays`) — the set column of the graded Jaccard
    rows and of the recall oracles."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingle_set_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(shingle_set_arrays(texts, cfg.shingle_k))

    return shingle_set_udf
