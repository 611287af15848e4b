"""Multimodal (image/audio/video) column plumbing.

Media ride as opaque ``binary`` columns with typed metadata structs —
the same pattern as ``html:binary`` in the page corpus. The Spark-side
plumbing (schemas, Arrow batch shape, partition sizing) is real and
tested; the actual decoders are STUBS (this container ships no
image/audio libs): ``decode_image_meta`` parses real PNG/JPEG headers
(pure bytes, deterministic), while pixel decode / resize
raise NotImplementedError behind a clearly-marked gate or return a
deterministic fake when ``fake=True`` (for pipeline tests).

Scale notes: binary payloads dominate bytes; the contract mirrors the
html rule (SURVEY §4 P2) — extract features, then DROP the blob before
any shuffle. `mapInPandas` streams Arrow record batches so one task
never holds more than spark.sql.execution.arrow.maxRecordsPerBatch
blobs.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def parse_image_header(data: bytes | None) -> tuple[str | None, int | None, int | None, int]:
    """Deterministic header-only parse of PNG / JPEG / GIF dimensions.
    Pure bytes — no decoder library, safe at any scale."""
    if not data:
        return None, None, None, 0
    n = len(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n" and n >= 24:
        w, h = struct.unpack(">II", data[16:24])
        return "png", w, h, n
    if data[:3] == b"GIF" and n >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return "gif", w, h, n
    if data[:2] == b"\xff\xd8":  # JPEG: walk segments to SOF0/2
        i = 2
        while i + 9 < n:
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker in (0xC0, 0xC2):
                h, w = struct.unpack(">HH", data[i + 5 : i + 9])
                return "jpeg", w, h, n
            seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
            i += 2 + seg_len
        return "jpeg", None, None, n
    return "unknown", None, None, n


@F.pandas_udf(MEDIA_META_SCHEMA)
def image_meta_udf(blobs: pd.Series) -> pd.DataFrame:
    rows = [parse_image_header(b) for b in blobs]
    return pd.DataFrame(rows, columns=["format", "width", "height", "n_bytes"])


def with_image_meta(df: DataFrame, blob_col: str = "media") -> DataFrame:
    return df.withColumn("media_meta", image_meta_udf(F.col(blob_col)))


def image_features(
    df: DataFrame, blob_col: str = "media", dim: int = 8, fake: bool = False
) -> DataFrame:
    """blob → float feature vector via mapInPandas.

    STUB: real pixel decode needs an image library not present in this
    container. ``fake=True`` produces a deterministic byte-histogram
    feature (real plumbing, fake features) so the downstream ANN path
    is testable end-to-end; ``fake=False`` raises at execution time.
    """
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name != blob_col]
        + [T.StructField("features", T.ArrayType(T.DoubleType()))]
    )
    other_cols = [f.name for f in df.schema.fields if f.name != blob_col]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image decode requires an image library (PIL/opencv) "
                    "not available in this environment; pass fake=True for "
                    "the deterministic byte-histogram stand-in"
                )
            feats = []
            for blob in pdf[blob_col]:
                arr = np.frombuffer(blob or b"", dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
                total = max(int(hist.sum()), 1)
                feats.append((hist / total).astype(np.float64).tolist())
            out = pdf[other_cols].copy()
            out["features"] = feats
            yield out

    # blob dropped in the output schema: features only cross the shuffle
    return df.mapInPandas(extract, schema=out_schema)
