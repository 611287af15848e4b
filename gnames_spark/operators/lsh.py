"""LSH banding → candidate pairs.

Reference analog: the candidate-generation join shape is exactly the
reference's 4-way posting-list equi-join (``sp_query.go:19-27``) —
docs sharing a (band, bucket_hash) key are candidates, as names
sharing a word posting are. The bucket-size cap is the reference's
hot-key truncation (>100 results → drop, ``match_records_map.go:17-22``):
a bucket larger than ``bucket_cap`` is dropped *and counted* — never
silently (P5 in SURVEY §4). The cap, the overflow count and the
bucket self-join are the capped posting engine's
(operators/postings.py); this module only builds the band postings.

Scale notes:
- Band hashes come from the fused signature kernel
  (functions/sigkernel.py); the postings are one JVM-side posexplode.
- Emitted pairs are deduped across bands with one extra shuffle
  (`dropDuplicates`) — at 10^12 docs this is the dominant shuffle, and
  it is unavoidable: it is the set-union of per-band candidate sets.
  The pipeline's LSH branch (the engine over the stored ``bands``
  column) skips it: its candidate union dedups all branches at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.operators.postings import capped_posting_pairs


def band_postings(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """A signature table's ``bands`` (the kernel's per-band bucket
    hashes, functions/sigkernel.py) as (doc_id, band, bucket_hash)
    postings."""
    return signatures.select(id_col, F.posexplode("bands").alias("band", "bucket_hash"))


def lsh_candidates(
    signatures: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """signatures (doc_id, bands) → (candidate pairs, overflow stats).

    Pairs are ``(doc_a < doc_b, method='lsh')``, deduped across bands;
    overflow is ``(band, bucket_hash, n_docs)`` for the buckets above
    ``cfg.bucket_cap``."""
    pairs, overflow = capped_posting_pairs(
        band_postings(signatures, id_col),
        ["band", "bucket_hash"],
        cfg.bucket_cap,
        cfg.shuffle_partitions,
        id_col=id_col,
    )
    return pairs.dropDuplicates(["doc_a", "doc_b"]).withColumn("method", F.lit("lsh")), overflow
