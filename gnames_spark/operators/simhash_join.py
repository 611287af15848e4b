"""SimHash Hamming-ball candidate join via pigeonhole chunking.

The reference has no theta/range join anywhere (SURVEY §2.3 J9); this
is the one theta-like join the dedup target needs, implemented as an
equi-join: split the 64-bit fingerprint into d+1 chunks — any pair
within Hamming distance d must agree exactly on at least one chunk
(pigeonhole) — equi-join on (chunk_id, chunk_val), then the exact
popcount filter ``bit_count(a.simhash XOR b.simhash) <= d``. No
nested-loop join at any scale; everything is JVM-side.

Skew note: boilerplate families make some chunk values extremely hot
(thousands of docs agreeing on 16 bits). The same cap-and-log policy as
LSH buckets applies (reference hot-key truncation analog): the chunk
postings run through the capped posting engine (operators/postings.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.operators.postings import capped_posting_pairs


def simhash_chunks(simhashes: DataFrame, cfg: DedupConfig, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash) → (doc_id, simhash, chunk_id, chunk_val)."""
    n_chunks = cfg.hamming_d + 1
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks_expr = (
        f"transform(sequence(0, {n_chunks - 1}), "
        f"c -> shiftrightunsigned(simhash, c * {width}) & {mask}L)"
    )
    return simhashes.select(
        id_col, "simhash", F.posexplode(F.expr(chunks_expr)).alias("chunk_id", "chunk_val")
    )


def within_hamming(pairs: DataFrame, d: int) -> DataFrame:
    """Engine pairs carrying ``simhash_a``/``simhash_b`` → (doc_a,
    doc_b, hamming) for the pairs within Hamming distance ``d``."""
    hamming = F.expr("bit_count(simhash_a ^ simhash_b)")
    return pairs.filter(hamming <= d).select("doc_a", "doc_b", hamming.alias("hamming"))


def simhash_candidates(
    simhashes: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, simhash) → (pairs with hamming <= d, overflow stats).

    Pairs arrive pre-verified: the popcount filter is exact, so the
    `hamming` column is final (no later join-back needed).
    """
    pairs, overflow = capped_posting_pairs(
        simhash_chunks(simhashes, cfg, id_col),
        ["chunk_id", "chunk_val"],
        cfg.bucket_cap,
        cfg.shuffle_partitions,
        extra_cols=["simhash"],
        id_col=id_col,
    )
    pairs = within_hamming(pairs, cfg.hamming_d).dropDuplicates(["doc_a", "doc_b"])
    return pairs.withColumn("method", F.lit("simhash")), overflow
