"""Document fingerprints — vectorized numpy kernels (Arrow-batched).

Value contract (shared with the DuckDB oracle in __spark_entry__.py):
the fold hash of a string is ``h_{j+1} = (h_j * 31 + codepoint_j) mod
2^31`` starting at 0 — i.e. ``Σ c_j · 31^(n-1-j) mod 2^31``. The
rolling variant takes the MIN of the fold hash over every
``window``-char substring (winnowing-style: stable under appended
content).

Why a kernel: the previous Catalyst form ``aggregate(split(text, ''),
...)`` evaluates an interpreted JVM lambda per character (~18 µs/elem,
no codegen — the same pathology purged from shingling, see
functions/sigkernel.py). Here the window hashes come from modular
prefix sums (O(n) per doc, mod 2^31 with the inverse of 31, which
exists because 31 is odd).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MOD = 1 << 31
_B = 31
_B_INV = pow(_B, -1, _MOD)  # 31 is odd -> invertible mod 2^31


def _pow_mod(base: int, n: int) -> np.ndarray:
    """[base^0 .. base^n] mod 2^31 (vectorized doubling, non-prime-safe:
    no inverses used here)."""
    pw = np.empty(n + 1, dtype=np.uint64)
    pw[0] = 1
    m = 1
    while m <= n:
        k = min(m, n + 1 - m)
        pw[m : m + k] = (pw[:k] * pw[m - 1] % _MOD) * (base % _MOD) % _MOD
        m *= 2
    return pw


def _codes(text: str) -> np.ndarray:
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)


def fold_fingerprint(codes: np.ndarray) -> int:
    """Full-document fold hash = Σ c_j · 31^(n-1-j) mod 2^31.

    Products < 2^21 · 2^31 = 2^52; after one mod the cumsum terms are
    < 2^31, exact in uint64 up to 2^33 chars."""
    n = len(codes)
    if n == 0:
        return 0
    pw = _pow_mod(_B, n - 1)[::-1]
    return int((codes * pw % _MOD).sum() % _MOD)


def window_fold_hashes(codes: np.ndarray, L: int) -> np.ndarray:
    """Fold hash of every length-L window, O(n) via prefix sums.

    Low-order-first prefix hashes Q_i over the REVERSED string give the
    high-order-first fold of forward windows: fold(codes[i:i+L]) equals
    Q^rev at the mirrored offset n-L-i."""
    n = len(codes)
    if n < L:
        return np.empty(0, dtype=np.uint64)
    rev = codes[::-1]
    bpow = _pow_mod(_B, n)
    binv = _pow_mod(_B_INV, n)
    terms = rev * bpow[:n] % _MOD
    pref = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(terms, out=pref[1:])
    pref %= _MOD
    # Q_i = (P_{i+L} - P_i) * B^{-i} mod 2^31, for i = 0..n-L
    q = (pref[L : n + 1] + _MOD - pref[: n - L + 1]) % _MOD * binv[: n - L + 1] % _MOD
    return q[::-1]  # mirror back to forward-window order


def make_fingerprint_udf(window: int | None = None):
    """pandas UDF: text → long fingerprint.

    ``window=None``: full-document fold (the driver-query contract).
    ``window=L``: min fold hash over all L-char windows; docs shorter
    than L fall back to the full fold."""

    @F.pandas_udf(T.LongType())
    def fingerprint_udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts.fillna("")):
            codes = _codes(t)
            if window is None or len(codes) < window:
                out[i] = fold_fingerprint(codes)
            else:
                out[i] = int(window_fold_hashes(codes, window).min())
        return pd.Series(out)

    return fingerprint_udf


def fingerprint(col: str | Column = "text", window: int | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return make_fingerprint_udf(window)(c)
