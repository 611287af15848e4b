"""Collation-aware comparison — diacritic-insensitive fold (X6).

Reference analog: author comparison strips diacritics and case before
matching (`/root/reference/pkg/ent/score/auth.go:127-140` — unidecode +
case fold). Here the fold is pure Catalyst (lower + translate over an
explicit accent map) so it rides whole-stage codegen; the DuckDB
oracle uses ``strip_accents(lower(...))`` and the two agree on the
mapped set by construction (asserted in tests/test_unicode.py-style
goldens and the x6 driver query).

The map covers precomposed Latin letters whose NFD decomposition is
base + combining mark (what strip_accents removes). Letters without a
decomposition (ß, ł, đ, æ, ø) are NOT folded — by either engine — so
parity holds; extend both sides together if a corpus needs them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ACCENTED = "àáâãäåèéêëìíîïòóôõöùúûüýÿçñšžčćřěů"
PLAIN = "aaaaaaeeeeiiiiooooouuuuyycnszccreu"
assert len(ACCENTED) == len(PLAIN)


def ascii_fold(col: str | Column) -> Column:
    """Lowercase + strip diacritics (explicit map) — the collation key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(F.lower(c), ACCENTED, PLAIN)
