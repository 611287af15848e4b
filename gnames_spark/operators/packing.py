"""Sequence packing — docs → fixed-token-budget training sequences.

The last step of a training-data pipeline: after dedup, hygiene, and
mixing, documents are CONCATENATED into a token stream and cut every
``budget`` tokens into training sequences (the standard concat-and-cut
packing; a doc may straddle a cut). The engine's job is the layout
bookkeeping, distributedly and deterministically: which shard, at what
stream offset, into which sequences does each doc land.

Determinism/portability contract: the stream order is defined by the
md5-prefix hash of (salt, doc_id) — the same engine-portable draw the
samplers use (operators/sampling.py) — with doc_id as tiebreak, so any
engine (the DuckDB driver oracle included) reproduces the exact layout,
and reruns / resumed checkpoints agree row-for-row.

Scale: one shuffle, partitioned by shard. The within-shard running
total is a sort-based window — the unavoidable cost of DEFINING a
stream order — and ``n_shards`` bounds it: at 10^12 docs, 10^6 shards
keep each window sort at ~10^6 rows (one task, spill-safe), and shards
are independent so the stage is embarrassingly parallel. No Python,
no driver state; offsets are exact integer math (no floats anywhere).

Reference analog: the reference's reconciliation API processes name
streams in fixed-size batches (BatchSize 50,
/root/reference/internal/io/rest/rest.go:296); here the fixed-size
unit is a training sequence with a token budget, and the layout is
computed distributedly instead of consumed serially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from gnames_spark.functions.shingles import tokens
from gnames_spark.operators.sampling import hash_prefix


def _validate(budget: int, n_shards: int) -> None:
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive: {n_shards}")


def token_count(text_col: str, tokens_col: str | None) -> F.Column:
    """The layout's token currency, in ONE place for every packing form
    (batch, incremental, streaming — the docstrings require them to
    share a token definition): a precomputed count column when
    ``tokens_col`` is plugged, whitespace tokens of ``text_col``
    otherwise. Plugged counts are runtime-VALIDATED — a NULL (missed
    upstream tokenizer join), negative or non-integral count would
    silently corrupt the disjoint-offset invariant every consumer
    depends on (NULLs vanish from the window sum; negatives walk the
    running total backwards into earlier docs' spans; a cast would
    truncate 3.9 to 3), so the job fails fast with the offending value
    instead."""
    if tokens_col is None:
        return F.size(tokens(text_col)).cast("long")
    raw = F.col(tokens_col)
    n = raw.cast("long")
    return (
        F.when((n >= 0) & (raw.cast("double") == n.cast("double")), n)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"packing: tokens_col {tokens_col!r} must be a "
                        "non-negative integer count, got: "
                    ),
                    F.coalesce(raw.cast("string"), F.lit("NULL")),
                )
            ).cast("long")
        )
    )


def pack_sequences_incremental(
    new_docs: DataFrame,
    base_stats: DataFrame,
    budget: int,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
    tokens_col: str | None = None,
) -> DataFrame:
    """Append a new batch to standing shard streams: each shard's new
    docs lay out AFTER the base tail, so already-packed docs never
    move (the append-log contract — the packing analog of the
    incremental fold-in; unlike CC fold-in it is deliberately NOT
    fresh-run-equal, because a fresh combined run would interleave
    old and new docs in hash order and rewrite every offset).

    ``base_stats`` is the :func:`pack_stats` output of the standing
    layout (only (shard, total_tokens) is read; shards with no base
    docs start at 0). Same config (budget, n_shards, salt, and token
    definition / tokens_col) must be used — offsets are meaningless
    across configs.

    Scale: the increment pays exactly a fresh :func:`pack_sequences`
    over the new batch; the base is touched only through its
    n_shards-row stats table (broadcast)."""
    _validate(budget, n_shards)
    layout = pack_sequences(
        new_docs, budget, n_shards, text_col=text_col, id_col=id_col,
        salt=salt, tokens_col=tokens_col,
    )
    base = base_stats.select(
        "shard", F.col("total_tokens").alias("_base_tail")
    )
    start = F.col("start_offset") + F.col("_base_tail")
    return (
        layout.join(F.broadcast(base), "shard", "left")
        .withColumn("_base_tail", F.coalesce("_base_tail", F.lit(0)))
        .select(
            id_col,
            "shard",
            start.cast("long").alias("start_offset"),
            "n_tokens",
        )
        .select(
            id_col,
            "shard",
            "start_offset",
            "n_tokens",
            F.expr(f"start_offset DIV {budget}").alias("first_seq"),
            F.expr(
                f"CASE WHEN n_tokens > 0 "
                f"THEN (start_offset + n_tokens - 1) DIV {budget} "
                f"ELSE start_offset DIV {budget} END"
            ).alias("last_seq"),
        )
    )


def sequence_manifest(layout: DataFrame, budget: int) -> DataFrame:
    """Per-sequence manifest over a :func:`pack_sequences` layout:
    (shard, seq_id, n_docs, n_tokens) — which training sequences exist,
    how many docs contribute to each, and how many of the sequence's
    ``budget`` positions are filled (the final one per shard is the
    only one that can be short). A doc straddling a cut contributes its
    overlap to BOTH sequences.

    Scale: explode of each doc's (first_seq..last_seq) span — bounded
    by ceil(n_tokens/budget) rows per doc — then one
    map-side-combinable groupBy; pure Catalyst overlap arithmetic."""
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    end = F.col("start_offset") + F.col("n_tokens")
    spans = layout.filter(F.col("n_tokens") > 0).select(
        "shard",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
        "start_offset",
        end.alias("_end"),
    )
    lo = F.greatest(F.col("start_offset"), F.col("seq_id") * budget)
    hi = F.least(F.col("_end"), (F.col("seq_id") + 1) * budget)
    return (
        spans.withColumn("_contrib", hi - lo)
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_contrib").cast("long").alias("n_tokens"),
        )
    )


def materialize_sequences(
    layout: DataFrame,
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The engine's literal final deliverable: the packed training
    sequences themselves — (shard, seq_id, n_tokens, seq_text), each
    ``seq_text`` the space-joined concatenation of every doc segment
    that lands in that sequence, in stream order (straddling docs
    contribute their overlap slice to both sides of the cut).

    Scale: the per-sequence collect is bounded by ``budget`` tokens BY
    CONSTRUCTION — a sequence can never aggregate more than one
    training window's worth of text, so the groupBy state is flat-rate
    regardless of corpus size. Doc texts ship once per touched
    sequence (≤ ceil(n_tokens/budget) copies — the same factor as the
    layout explode).

    Token-currency guard: materialization slices ACTUAL whitespace
    tokens at the layout's offsets, so it is only meaningful for
    layouts computed with the default whitespace counter. Feeding it a
    ``tokens_col`` layout would silently slice wrong spans — so every
    doc's layout ``n_tokens`` is runtime-CHECKED against the whitespace
    token count of its text and the job fails with both numbers on the
    first mismatch."""
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    t = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks")
    )
    checked_n = F.when(
        F.col("n_tokens") == F.size("_toks"), F.col("n_tokens")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("materialize_sequences: layout n_tokens ("),
                F.col("n_tokens").cast("string"),
                F.lit(") != whitespace token count of the text ("),
                F.size("_toks").cast("string"),
                F.lit(") for doc "),
                F.col("doc_id").cast("string"),
                F.lit(
                    " — the layout was computed with a different token "
                    "currency (tokens_col?); materialization needs a "
                    "whitespace-token layout"
                ),
            )
        ).cast("long")
    )
    spans = (
        layout.filter(F.col("n_tokens") > 0)
        .join(t, "doc_id")
        .select(
            "shard",
            F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
            "start_offset",
            (F.col("start_offset") + checked_n).alias("_end"),
            "_toks",
        )
    )
    lo = F.greatest(F.col("start_offset"), F.col("seq_id") * budget)
    hi = F.least(F.col("_end"), (F.col("seq_id") + 1) * budget)
    piece = F.slice(
        "_toks", (lo - F.col("start_offset") + 1).cast("int"),
        (hi - lo).cast("int"),
    )
    parts = spans.select(
        "shard",
        "seq_id",
        F.struct(lo.alias("pos"), piece.alias("p")).alias("part"),
    )
    return (
        parts.groupBy("shard", "seq_id")
        .agg(F.array_sort(F.collect_list("part")).alias("_parts"))
        .select(
            "shard",
            F.col("seq_id").cast("long").alias("seq_id"),
            F.aggregate(
                "_parts", F.lit(0).cast("long"),
                lambda acc, x: acc + F.size(x["p"]),
            ).alias("n_tokens"),
            F.array_join(
                F.flatten(F.transform("_parts", lambda x: x["p"])), " "
            ).alias("seq_text"),
        )
    )


def pack_stats(layout: DataFrame, budget: int) -> DataFrame:
    """Per-shard balance report over a :func:`pack_sequences` layout:
    (shard, n_docs, total_tokens, n_seqs, fill_frac) — the check that
    hash sharding actually balanced the streams and how much of the
    last sequence each shard wastes. fill_frac = total /
    (n_seqs * budget), rounded to 6 digits; NULL for an empty shard.

    Scale: one map-side-combinable groupBy over the layout; the result
    is n_shards rows."""
    if budget <= 0:
        raise ValueError(f"budget must be positive: {budget}")
    agg = layout.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    n_seqs = F.expr(f"(total_tokens + {budget - 1}) DIV {budget}")
    return agg.select(
        "shard",
        "n_docs",
        "total_tokens",
        n_seqs.alias("n_seqs"),
        F.when(
            F.col("total_tokens") > 0,
            F.round(
                F.col("total_tokens").cast("double")
                / (n_seqs * budget).cast("double"),
                6,
            ),
        ).alias("fill_frac"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "pack",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc packing layout: (id, shard, start_offset, n_tokens,
    first_seq, last_seq).

    Token definition is PLUGGABLE: with ``tokens_col`` the layout reads
    a precomputed per-doc token count (non-negative — e.g. a real BPE
    tokenizer count computed upstream) instead of counting whitespace
    tokens of ``text_col``. The layout algebra is token-definition-
    agnostic (it only sums counts), so a production pipeline packs on
    TOKENIZER tokens by passing the column — budget then means what the
    trainer means by it. :func:`materialize_sequences` remains
    whitespace-token-based (it slices the actual text stream) and is
    only meaningful for layouts computed with the default counter —
    enforced there by a runtime currency check.

    Each doc is hashed to one of ``n_shards`` independent token
    streams; within its shard the stream order is (hash, id). The doc
    occupies stream positions [start_offset, start_offset + n_tokens);
    sequence k of a shard is positions [k*budget, (k+1)*budget), so the
    doc touches sequences first_seq..last_seq (inclusive; a doc longer
    than ``budget`` spans several, an empty doc touches the one its
    offset points into).

    ``id_col`` is expected unique (it is a doc id); duplicate ids are
    laid out as separate rows (ROWS window frame — identical rows get
    consecutive, non-overlapping offsets, never the same one).
    Sequence ids use integer DIV, never float division — exact at any
    stream offset.
    """
    _validate(budget, n_shards)
    t = docs.select(
        id_col,
        token_count(text_col, tokens_col).alias("n_tokens"),
        hash_prefix(id_col, salt).alias("h"),
    ).withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
    w = (
        W.partitionBy("shard")
        .orderBy("h", id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return t.select(
        id_col,
        "shard",
        start.cast("long").alias("start_offset"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).select(
        id_col,
        "shard",
        "start_offset",
        "n_tokens",
        F.expr(f"start_offset DIV {budget}").alias("first_seq"),
        F.expr(
            f"CASE WHEN n_tokens > 0 "
            f"THEN (start_offset + n_tokens - 1) DIV {budget} "
            f"ELSE start_offset DIV {budget} END"
        ).alias("last_seq"),
    )
