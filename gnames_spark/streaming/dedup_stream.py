"""Structured-Streaming surface for the dedup engine.

The reference is strictly request/response (SURVEY §2.9 — no
watermarks, no streaming state); production ingestion of a crawl is a
stream, so the engine exposes the streaming-native pieces that make
sense there:

- ``streaming_exact_dedup``: drop byte-identical documents inside a
  watermark window (``dropDuplicatesWithinWatermark`` keyed on
  content sha) — the streaming form of the M1 exact screen. State is
  bounded by the watermark (content seen longer ago than the delay is
  eligible for eviction; global exact dedup stays a batch/backfill
  concern).
- ``streaming_page_stats``: windowed per-language page counts + mean
  quality with late-data tolerance — the metrics surface as a stream.

- ``streaming_simhash_screen``: custom STATEFUL near-dup screen via
  ``applyInPandasWithState`` — arriving pages are flagged when their
  64-bit SimHash is within a Hamming ball of a recently seen page.
  The pigeonhole decomposition (d+1 chunks; any pair within distance d
  shares ≥1 chunk) turns the unbounded self-join into per-chunk-bucket
  GroupState holding only recent fingerprints, capped and
  timeout-evicted, so state stays bounded on an infinite crawl.

- ``streaming_embedding_screen``: the embedding modality as a stream —
  banded sign-LSH postings bucket arriving vectors; per-(band, bucket)
  GroupState holds recent normalized vectors (capped + TTL-evicted),
  an arriving vector is flagged against state members at cosine >=
  the threshold. Same analytic catch probability as ann_dup_pairs
  while both vectors live in state.

- ``streaming_packing``: the packing layout as a stream — per-shard
  GroupState holds ONE integer (the stream tail), arriving docs emit
  their (shard, offset, sequence-span) placement as they land; a
  finite source consumed in one micro-batch reproduces the batch
  operator exactly.

Full near-dup LSH as a pure stream is intentionally NOT offered:
candidate self-joins over an unbounded corpus need the persisted
signatures/buckets tables. The SimHash screen is the stream's own
near-dup signal: its FNV fingerprint (``make_fnv_simhash_udf``) is not
stored in the batch signature tables, which carry LSH bands and
anchors only, so there is no batch fingerprint to join the stream
against.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gnames_spark.config import DedupConfig
from gnames_spark.functions.simhash import make_fnv_simhash_udf
from gnames_spark.functions.textstats import quality_score
from gnames_spark.operators.simhash_join import simhash_chunks


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized popcount of uint64 (numpy<2 lacks bitwise_count)."""
    if hasattr(np, "bitwise_count"):  # numpy >= 2
        return np.bitwise_count(x)
    v = x.view(np.uint8).reshape(-1, 8)
    return np.unpackbits(v, axis=1).sum(axis=1)


def streaming_exact_dedup(
    pages: DataFrame, watermark_delay: str = "10 minutes"
) -> DataFrame:
    """Streaming DataFrame of first-seen documents (exact dedup).

    ``pages`` must be a streaming DF with (url, warc_ts, text, ...).
    """
    return (
        pages.withColumn("content_sha", F.sha2("text", 256))
        .withWatermark("warc_ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["content_sha"])
    )


def streaming_simhash_screen(
    pages: DataFrame,
    hamming_d: int = 3,
    state_cap_per_bucket: int = 256,
    state_ttl_minutes: int | None = 60,
) -> DataFrame:
    """Streaming near-dup screen: (doc_id, dup_of, hamming) rows for
    arriving pages whose SimHash is within ``hamming_d`` of a page seen
    while its state lives.

    Custom stateful operator (SURVEY §2.9 / brief: applyInPandasWithState):
    each page's 64-bit FNV SimHash is split into ``hamming_d + 1``
    chunks — the pigeonhole guarantee of operators/simhash_join.py, so
    any pair within the ball shares ≥1 (chunk_id, chunk_val) key. Each
    key's GroupState holds recent (doc_id, simhash) fingerprints:
    capped at ``state_cap_per_bucket`` (hot boilerplate buckets stop
    growing — the streaming form of the batch bucket cap; eviction is
    oldest-first) and evicted wholesale after ``state_ttl_minutes``
    without traffic (processing-time timeout), so state is bounded on
    an unbounded crawl. ``state_ttl_minutes=None`` disables the timer
    (cap-only bounding) — use for finite replays/tests where the
    engine's timeout-driven empty micro-batches are unwanted. A pair sharing several chunks is emitted once
    per chunk — callers needing set semantics dropDuplicates
    (doc_id, dup_of) downstream, exactly like the batch candidate union.
    """
    cfg = DedupConfig(hamming_d=hamming_d)
    cfg.validate()  # raises unless hamming_d + 1 divides the 64 bits
    sim_udf = make_fnv_simhash_udf()
    sigs = pages.select(
        F.xxhash64("url").alias("doc_id"), sim_udf(F.col("text")).alias("simhash")
    )
    # the batch pigeonhole posting builder: stream and batch chunk alike
    chunks = simhash_chunks(sigs, cfg)

    out_type = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("hamming", T.IntegerType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("doc_ids", T.ArrayType(T.LongType())),
            T.StructField("sims", T.ArrayType(T.LongType())),
        ]
    )
    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60 * 1000

    def screen(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, sims = state.get
            ids, sims = list(ids), list(sims)
        else:
            ids, sims = [], []
        out_doc, out_dup, out_ham = [], [], []
        for pdf in pdfs:
            # deterministic within-batch order so (new, new) matches are
            # reported against the smaller doc_id regardless of shuffle
            pdf = pdf.sort_values("doc_id").drop_duplicates("doc_id")
            for did, sim in zip(pdf["doc_id"], pdf["simhash"]):
                did, sim = int(did), int(sim)
                if sims:
                    arr = np.array(sims, dtype=np.int64).view(np.uint64)
                    ham = _popcount64(arr ^ np.uint64(sim & 0xFFFFFFFFFFFFFFFF))
                    for j in np.flatnonzero(ham <= hamming_d):
                        if ids[j] != did:
                            out_doc.append(did)
                            out_dup.append(ids[j])
                            out_ham.append(int(ham[j]))
                ids.append(did)
                sims.append(sim)
        if len(ids) > state_cap_per_bucket:  # oldest-first eviction
            ids = ids[-state_cap_per_bucket:]
            sims = sims[-state_cap_per_bucket:]
        state.update((ids, sims))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"doc_id": out_doc, "dup_of": out_dup, "hamming": out_ham})

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return chunks.groupBy("chunk_id", "chunk_val").applyInPandasWithState(
        screen,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def streaming_embedding_screen(
    vectors: DataFrame,
    dim: int,
    min_cosine: float = 0.9,
    seed: int = 42,
    n_bands: int | None = None,
    band_bits: int = 8,
    state_cap_per_bucket: int = 256,
    state_ttl_minutes: int | None = 60,
    round_digits: int = 6,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming EMBEDDING near-dup screen: (doc_id, dup_of, cosine)
    rows for arriving vectors whose cosine with a recently seen vector
    is >= ``min_cosine`` — the streaming form of the embedding modality
    (pipeline.embedding_pairs), built exactly like
    :func:`streaming_simhash_screen`.

    Banded sign-LSH postings give the bucketing: band count derives
    from the threshold (``optimal_sign_bands`` — catch probability
    >= 0.99 at cosine == min_cosine while both vectors live in state),
    each (band, bucket) key's GroupState holds recent NORMALIZED
    vectors (cosine = one dot product), capped oldest-first at
    ``state_cap_per_bucket`` (dense-region buckets stop growing — the
    streaming form of emb_bucket_cap) and TTL-evicted, so state is
    bounded on an unbounded crawl: <= buckets × cap × dim doubles.
    A pair sharing several bands is emitted once per band — callers
    needing set semantics dropDuplicates (doc_id, dup_of) downstream.
    """
    from gnames_spark.operators.embeddings import (
        make_banded_hyperplane_udf,
        optimal_sign_bands,
    )

    if n_bands is None:
        n_bands = optimal_sign_bands(min_cosine, band_bits)
    sig = make_banded_hyperplane_udf(dim, n_bands, band_bits, seed)
    posting = vectors.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).cast(T.ArrayType(T.DoubleType())).alias("vec"),
        F.posexplode(sig(F.col(vec_col))).alias("band", "bucket"),
    )

    out_type = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("doc_ids", T.ArrayType(T.LongType())),
            T.StructField("vecs", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60 * 1000
    thr = float(min_cosine)
    digits = int(round_digits)

    def screen(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, vecs = state.get
            ids = list(ids)
            vecs = [np.asarray(v, dtype=np.float64) for v in vecs]
        else:
            ids, vecs = [], []
        out_doc, out_dup, out_cos = [], [], []
        for pdf in pdfs:
            # deterministic within-batch order (same policy as the
            # simhash screen): (new, new) matches report against the
            # smaller doc_id regardless of shuffle order
            pdf = pdf.sort_values("doc_id").drop_duplicates("doc_id")
            for did, v in zip(pdf["doc_id"], pdf["vec"]):
                did = int(did)
                v = np.asarray(v, dtype=np.float64)
                norm = np.linalg.norm(v)
                nv = v / norm if norm > 0 else v  # zero vector: cos 0 with all
                if vecs:
                    sims = np.stack(vecs) @ nv
                    for j in np.flatnonzero(np.round(sims, digits) >= thr):
                        if ids[j] != did:
                            out_doc.append(did)
                            out_dup.append(ids[j])
                            out_cos.append(float(np.round(sims[j], digits)))
                ids.append(did)
                vecs.append(nv)
        if len(ids) > state_cap_per_bucket:  # oldest-first eviction
            ids = ids[-state_cap_per_bucket:]
            vecs = vecs[-state_cap_per_bucket:]
        state.update((ids, [list(map(float, v)) for v in vecs]))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"doc_id": out_doc, "dup_of": out_dup, "cosine": out_cos})

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return posting.groupBy("band", "bucket").applyInPandasWithState(
        screen,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def streaming_page_stats(
    pages: DataFrame,
    window: str = "1 hour",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Windowed per-lang ingest stats with late-data handling."""
    return (
        pages.withWatermark("warc_ts", watermark_delay)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.round(F.avg(quality_score("text")), 6).alias("avg_quality"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_pages",
            "avg_quality",
        )
    )


def streaming_boilerplate_screen(
    pages: DataFrame,
    min_docs: int = 2,
    id_cap: int = 4096,
    state_ttl_minutes: int | None = 60,
) -> DataFrame:
    """Streaming analog of ``operators/linededup.shared_lines``: emit
    (line_hash, line, n_docs) ONCE, in the micro-batch where a line's
    distinct-doc count crosses ``min_docs`` — the live boilerplate
    detector (a cookie banner shows up as shared within minutes of a
    crawl starting; the batch strip can then use the accumulating
    hot-line table without waiting for a full-corpus pass).

    State is bounded BY DESIGN, not by luck: before a line flags, its
    GroupState holds at most ``min_docs`` distinct doc ids
    (distinctness only has to be exact up to the threshold —
    ``min_docs <= id_cap`` is asserted); the moment it flags, the id
    list is dropped and the state collapses to a (flagged, line) marker.
    So the hottest key on an unbounded crawl — exactly the line this
    operator exists to find — carries the SMALLEST state. TTL eviction
    (processing-time timeout) ages out the long tail of never-shared
    lines; ``None`` disables the timer for finite replays/tests.
    """
    assert min_docs <= id_cap, "min_docs must be <= id_cap for an exact threshold"
    lines = (
        pages.select(
            F.xxhash64("url").alias("doc_id"),
            F.posexplode(F.split(F.col("text"), F.lit("\n"), -1)).alias(
                "line_no", "line"
            ),
        )
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
        .select("doc_id", "line", F.xxhash64("line").alias("line_hash"))
    )

    out_type = T.StructType(
        [
            T.StructField("line_hash", T.LongType()),
            T.StructField("line", T.StringType()),
            T.StructField("n_docs", T.LongType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("flagged", T.BooleanType()),
            T.StructField("doc_ids", T.ArrayType(T.LongType())),
        ]
    )
    ttl_ms = None if state_ttl_minutes is None else state_ttl_minutes * 60 * 1000

    def screen(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            flagged, ids = state.get
            seen = set(ids)
        else:
            flagged, seen = False, set()
        out = []
        for pdf in pdfs:
            if flagged:
                continue
            for did, line in zip(pdf["doc_id"], pdf["line"]):
                seen.add(int(did))
                if len(seen) >= min_docs:
                    out.append((int(key[0]), str(line), len(seen)))
                    flagged = True
                    seen = set()  # drop ids: flagged keys keep no list
                    break
        state.update((flagged, sorted(seen)))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=["line_hash", "line", "n_docs"])

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return lines.groupBy("line_hash").applyInPandasWithState(
        screen,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def streaming_packing(
    docs: DataFrame,
    budget: int,
    n_shards: int,
    salt: str = "pack",
    tokens_col: str | None = None,
) -> DataFrame:
    """Streaming sequence packing: arriving docs append to per-shard
    token streams, emitting each doc's (shard, start_offset, n_tokens,
    first_seq, last_seq) placement as it lands.

    Custom stateful operator (the streaming form of
    operators/packing.pack_sequences): GroupState per shard holds ONE
    integer — the stream's tail offset — so state is bounded by
    ``n_shards`` regardless of how long the crawl runs, and no timeout
    is needed. Within a micro-batch docs lay out in the same
    (md5-prefix hash, doc_id) order as the batch operator, so a finite
    source replayed as one batch reproduces pack_sequences EXACTLY
    (pytest-pinned); across micro-batches the layout is an append log
    in arrival order — the same contract as
    pack_sequences_incremental, which is the batch tool for replaying
    a multi-batch layout deterministically.

    ``tokens_col`` plugs a precomputed per-doc token count (e.g. a real
    tokenizer count) into the layout, mirroring the batch operator —
    the same config (budget, n_shards, salt, token definition) must be
    used across the batch/stream/incremental forms.
    """
    from gnames_spark.operators.packing import _validate, token_count
    from gnames_spark.operators.sampling import hash_prefix

    _validate(budget, n_shards)
    base = docs
    if "doc_id" not in base.columns:
        base = base.withColumn("doc_id", F.xxhash64("url"))
    t = base.select(
        "doc_id",
        token_count("text", tokens_col).alias("n_tokens"),
        hash_prefix("doc_id", salt).alias("h"),
    ).withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))

    out_type = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("shard", T.IntegerType()),
            T.StructField("start_offset", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("first_seq", T.LongType()),
            T.StructField("last_seq", T.LongType()),
        ]
    )
    state_type = T.StructType([T.StructField("tail", T.LongType())])
    cols = [f.name for f in out_type.fields]

    def lay(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        tail = state.get[0] if state.exists else 0
        shard = int(key[0])
        rows = []
        # a group larger than one Arrow batch arrives as several chunks:
        # ordering is a GROUP property, so concatenate before sorting —
        # per-chunk sorting would interleave offsets wrongly. Duplicate
        # ids (malformed input) lay out as separate rows, exactly like
        # the batch operator's ROWS window frame.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["h", "doc_id"])
        for did, n in zip(pdf["doc_id"], pdf["n_tokens"]):
            n = int(n)
            start = tail
            tail += n
            last = (tail - 1) // budget if n > 0 else start // budget
            rows.append((int(did), shard, start, n, start // budget, last))
        state.update((tail,))
        yield pd.DataFrame(rows, columns=cols)

    return t.groupBy("shard").applyInPandasWithState(
        lay,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
