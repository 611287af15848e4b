"""Sequence packing layout (operators/packing.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gnames_spark.operators.packing import pack_sequences


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, " ".join(f"w{j}" for j in range(i % 37))) for i in range(400)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestPackSequences:
    def test_offsets_are_contiguous_per_shard(self, corpus):
        out = pack_sequences(corpus, budget=64, n_shards=4).collect()
        by_shard: dict[int, list] = {}
        for r in out:
            by_shard.setdefault(r.shard, []).append(r)
        assert len(out) == 400 and len(by_shard) == 4
        for rows in by_shard.values():
            rows.sort(key=lambda r: r.start_offset)
            pos = 0
            for r in rows:
                assert r.start_offset == pos  # no gaps, no overlaps
                pos += r.n_tokens

    def test_seq_span_math(self, corpus):
        for r in pack_sequences(corpus, budget=64, n_shards=4).collect():
            assert r.first_seq == r.start_offset // 64
            end = r.start_offset + r.n_tokens
            if r.n_tokens > 0:
                assert r.last_seq == (end - 1) // 64
                # straddles a cut iff the span crosses a multiple of 64
                assert (r.last_seq > r.first_seq) == (
                    end - 1 >= (r.first_seq + 1) * 64
                )
            else:
                assert r.last_seq == r.first_seq  # empty doc: zero span

    def test_total_tokens_conserved(self, corpus):
        out = pack_sequences(corpus, budget=64, n_shards=4)
        total = corpus.select(
            F.sum(F.size(F.split(F.trim("text"), " +"))).alias("t")
        )
        # shingles.tokens drops empties; recompute from the output itself:
        assert (
            out.agg(F.sum("n_tokens")).first()[0]
            == sum(i % 37 for i in range(400))
        )

    def test_deterministic_and_partition_invariant(self, corpus):
        a = sorted(map(tuple, pack_sequences(corpus, 64, 4).collect()))
        b = sorted(
            map(tuple, pack_sequences(corpus.repartition(11), 64, 4).collect())
        )
        assert a == b

    def test_no_python_one_shuffle(self, corpus):
        plan = (
            pack_sequences(corpus, 64, 4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan
        # exactly the shard-partitioning exchange for the window sum —
        # the one shuffle the layout needs
        assert plan.count("Exchange hashpartitioning") == 1

    def test_validation(self, corpus):
        with pytest.raises(ValueError):
            pack_sequences(corpus, 0, 4)
        with pytest.raises(ValueError):
            pack_sequences(corpus, 64, 0)
        with pytest.raises(ValueError):
            pack_sequences(corpus, 64, 4, salt="bad'salt")


class TestPackStats:
    def test_balance_report(self, corpus, spark):
        from gnames_spark.operators.packing import pack_stats

        layout = pack_sequences(corpus, budget=64, n_shards=4)
        stats = {r.shard: r for r in pack_stats(layout, 64).collect()}
        assert set(stats) == {0, 1, 2, 3}
        total = sum(r.total_tokens for r in stats.values())
        assert total == sum(i % 37 for i in range(400))
        for r in stats.values():
            expect_seqs = -(-r.total_tokens // 64)
            assert r.n_seqs == expect_seqs
            assert r.fill_frac == round(r.total_tokens / (expect_seqs * 64), 6)
            assert 0 < r.fill_frac <= 1.0
        assert sum(r.n_docs for r in stats.values()) == 400

    def test_validation(self, corpus):
        from gnames_spark.operators.packing import pack_stats

        with pytest.raises(ValueError):
            pack_stats(pack_sequences(corpus, 64, 4), 0)


class TestIncrementalPacking:
    def test_append_log_contract(self, spark):
        from gnames_spark.operators.packing import (
            pack_sequences_incremental,
            pack_stats,
        )

        def mk(ids):
            rows = [(i, " ".join(f"w{j}" for j in range(i % 23))) for i in ids]
            return spark.createDataFrame(rows, ["doc_id", "text"])

        base = pack_sequences(mk(range(200)), 64, 4)
        inc = pack_sequences_incremental(
            mk(range(200, 300)), pack_stats(base, 64), 64, 4
        )
        # base offsets untouched by construction; the union is one
        # contiguous stream per shard with base strictly first
        combined: dict[int, list] = {}
        for r in base.collect() + inc.collect():
            combined.setdefault(r.shard, []).append(r)
        base_tails = {r.shard: r.total_tokens for r in pack_stats(base, 64).collect()}
        for shard, rows in combined.items():
            rows.sort(key=lambda r: r.start_offset)
            pos = 0
            for r in rows:
                assert r.start_offset == pos
                assert r.first_seq == pos // 64
                pos += r.n_tokens
        for r in inc.collect():
            assert r.start_offset >= base_tails.get(r.shard, 0)

    def test_empty_base_shard_starts_at_zero(self, spark):
        from gnames_spark.operators.packing import (
            pack_sequences_incremental,
        )

        empty_stats = spark.createDataFrame(
            [], "shard int, n_docs long, total_tokens long, n_seqs long, "
                "fill_frac double"
        )
        rows = [(i, "a b c") for i in range(40)]
        inc = pack_sequences_incremental(
            spark.createDataFrame(rows, ["doc_id", "text"]),
            empty_stats, 64, 2,
        )
        got = inc.collect()
        assert len(got) == 40
        assert min(r.start_offset for r in got) == 0


class TestSequenceManifest:
    def test_manifest_conserves_and_fills(self, corpus, spark):
        from gnames_spark.operators.packing import (
            pack_stats,
            sequence_manifest,
        )

        layout = pack_sequences(corpus, budget=64, n_shards=4)
        man = sequence_manifest(layout, 64).collect()
        stats = {r.shard: r for r in pack_stats(layout, 64).collect()}
        by_shard: dict[int, list] = {}
        for r in man:
            by_shard.setdefault(r.shard, []).append(r)
        for shard, rows in by_shard.items():
            rows.sort(key=lambda r: r.seq_id)
            # seq ids are dense 0..n_seqs-1
            assert [r.seq_id for r in rows] == list(range(stats[shard].n_seqs))
            # token conservation: straddling docs split across cuts
            assert sum(r.n_tokens for r in rows) == stats[shard].total_tokens
            # every sequence is exactly full except possibly the last
            for r in rows[:-1]:
                assert r.n_tokens == 64
            assert 0 < rows[-1].n_tokens <= 64
            assert all(r.n_docs >= 1 for r in rows)

    def test_straddler_counted_in_both(self, spark):
        from gnames_spark.operators.packing import sequence_manifest

        # one 10-token doc then one 100-token doc in a single shard
        rows = [(1, " ".join(["a"] * 10)), (2, " ".join(["b"] * 100))]
        layout = pack_sequences(
            spark.createDataFrame(rows, ["doc_id", "text"]), 64, 1
        )
        man = {r.seq_id: r for r in sequence_manifest(layout, 64).collect()}
        assert man[0].n_tokens == 64 and man[1].n_tokens == 46
        # the 100-token doc spans both sequences regardless of order
        assert man[0].n_docs + man[1].n_docs == 3


class TestMaterializeSequences:
    def test_sequences_reassemble_the_stream(self, corpus, spark):
        from gnames_spark.operators.packing import (
            materialize_sequences,
            sequence_manifest,
        )

        layout = pack_sequences(corpus, budget=64, n_shards=4)
        seqs = materialize_sequences(layout, corpus, 64).collect()
        man = {
            (r.shard, r.seq_id): r.n_tokens
            for r in sequence_manifest(layout, 64).collect()
        }
        # token counts agree with the manifest for every sequence
        assert {(r.shard, r.seq_id): r.n_tokens for r in seqs} == man
        # joining each shard's sequences in order reproduces the exact
        # token stream laid down by the layout
        docs_toks = {
            r.doc_id: r.t.split(" ") if r.t else []
            for r in corpus.selectExpr(
                "doc_id",
                "array_join(filter(split(lower(text), '\\\\s+'), "
                "x -> x != ''), ' ') AS t",
            ).collect()
        }
        lay = {}
        for r in layout.collect():
            lay.setdefault(r.shard, []).append(r)
        got_by_shard = {}
        for r in seqs:
            got_by_shard.setdefault(r.shard, []).append(r)
        for shard, rows in lay.items():
            rows.sort(key=lambda r: r.start_offset)
            want = [t for r in rows for t in docs_toks[r.doc_id]]
            srows = sorted(got_by_shard[shard], key=lambda r: r.seq_id)
            got = [t for r in srows for t in (r.seq_text.split(" ") if r.seq_text else [])]
            assert got == want
            # all but the last sequence hold exactly 64 tokens
            for r in srows[:-1]:
                assert r.n_tokens == 64


class TestDuplicateIds:
    def test_duplicate_ids_get_disjoint_offsets(self, spark):
        rows = [(7, "a b c"), (7, "a b c"), (8, "d e")]
        layout = pack_sequences(
            spark.createDataFrame(rows, ["doc_id", "text"]), 64, 1
        ).collect()
        assert len(layout) == 3
        offs = sorted((r.start_offset, r.n_tokens) for r in layout)
        pos = 0
        for start, n in offs:  # contiguous, never overlapping
            assert start == pos
            pos += n
        assert pos == 8


class TestTokensColPacking:
    """Pluggable token counting: the layout algebra only sums counts,
    so a precomputed tokenizer-token column must drive the exact same
    layout machinery as the default whitespace counter."""

    def test_matching_count_column_gives_identical_layout(self, corpus):
        # a tokens_col that EQUALS the whitespace count reproduces the
        # default layout bit-for-bit
        from gnames_spark.functions.shingles import tokens

        withcol = corpus.withColumn("n_ws", F.size(tokens("text")))
        a = sorted(
            tuple(r)
            for r in pack_sequences(corpus, budget=64, n_shards=4).collect()
        )
        b = sorted(
            tuple(r)
            for r in pack_sequences(
                withcol, budget=64, n_shards=4, tokens_col="n_ws"
            ).select(
                "doc_id", "shard", "start_offset", "n_tokens",
                "first_seq", "last_seq",
            ).collect()
        )
        assert a == b

    def test_bpe_style_count_drives_layout(self, corpus):
        # the ~4-chars-per-token BPE heuristic as the budget currency:
        # offsets contiguous per shard, n_tokens read from the column
        docs = corpus.withColumn(
            "n_bpe", F.expr("CAST((length(text) + 3) DIV 4 AS LONG)")
        )
        out = pack_sequences(
            docs, budget=64, n_shards=4, tokens_col="n_bpe"
        ).collect()
        want = {
            r.doc_id: r.n_bpe for r in docs.select("doc_id", "n_bpe").collect()
        }
        by_shard: dict[int, list] = {}
        for r in out:
            assert r.n_tokens == want[r.doc_id]
            by_shard.setdefault(r.shard, []).append(r)
        for rows in by_shard.values():
            rows.sort(key=lambda r: r.start_offset)
            pos = 0
            for r in rows:
                assert r.start_offset == pos
                pos += r.n_tokens

    def test_incremental_respects_tokens_col(self, corpus):
        from gnames_spark.operators.packing import (
            pack_sequences_incremental,
            pack_stats,
        )

        docs = corpus.withColumn(
            "n_bpe", F.expr("CAST((length(text) + 3) DIV 4 AS LONG)")
        )
        base = docs.filter(F.col("doc_id") % 2 == 0)
        newb = docs.filter(F.col("doc_id") % 2 == 1)
        base_layout = pack_sequences(
            base, budget=64, n_shards=4, tokens_col="n_bpe"
        )
        inc = pack_sequences_incremental(
            newb, pack_stats(base_layout, 64), 64, 4, tokens_col="n_bpe"
        )
        # append-log contract holds in the plugged token currency: the
        # combined streams are contiguous and base offsets never moved
        combined = base_layout.unionByName(inc).collect()
        by_shard: dict[int, list] = {}
        for r in combined:
            by_shard.setdefault(r.shard, []).append(r)
        base_ids = {r.doc_id for r in base_layout.collect()}
        for rows in by_shard.values():
            # base docs first (their offsets are untouched), then new
            rows.sort(key=lambda r: r.start_offset)
            pos = 0
            seen_new = False
            for r in rows:
                assert r.start_offset == pos
                pos += r.n_tokens
                if r.doc_id not in base_ids:
                    seen_new = True
                else:
                    assert not seen_new  # new docs only AFTER the tail

    def test_null_or_negative_plugged_count_fails_fast(self, spark):
        # a missed tokenizer join (NULL) or corrupt negative count
        # would silently break the disjoint-offset invariant; the
        # layout job must fail with the offending value instead
        from pyspark.errors import PySparkException

        rows = [(1, 5), (2, None), (3, 4)]
        docs = spark.createDataFrame(rows, "doc_id long, n_tok long")
        with pytest.raises(PySparkException, match="non-negative"):
            pack_sequences(docs, 64, 2, tokens_col="n_tok").collect()
        rows = [(1, 5), (2, -3)]
        docs = spark.createDataFrame(rows, "doc_id long, n_tok long")
        with pytest.raises(PySparkException, match="non-negative"):
            pack_sequences(docs, 64, 2, tokens_col="n_tok").collect()

    def test_non_integral_plugged_count_fails_fast(self, spark):
        # a fractional count (a bad upstream avg/join) must fail, not be
        # truncated by the cast to long (3.9 silently becoming 3)
        from pyspark.errors import PySparkException

        docs = spark.createDataFrame([(1, 5.0), (2, 3.9)], "doc_id long, n_tok double")
        with pytest.raises(PySparkException, match="3.9"):
            pack_sequences(docs, 64, 2, tokens_col="n_tok").collect()
        # integral doubles are valid counts and lay out like longs
        ok = spark.createDataFrame([(1, 5.0), (2, 4.0)], "doc_id long, n_tok double")
        as_long = ok.withColumn("n_tok", F.col("n_tok").cast("long"))
        got = pack_sequences(ok, 64, 2, tokens_col="n_tok").orderBy("doc_id").collect()
        want = pack_sequences(as_long, 64, 2, tokens_col="n_tok").orderBy("doc_id").collect()
        assert got == want

    def test_materialize_rejects_foreign_currency_layout(self, spark):
        # materialize slices whitespace tokens: a tokens_col layout
        # must fail fast with both counts, never silently mis-slice
        from pyspark.errors import PySparkException

        from gnames_spark.operators.packing import materialize_sequences

        rows = [(1, "alpha beta gamma delta"), (2, "one two three")]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        bpe = docs.withColumn(
            "n_bpe", F.expr("CAST((length(text) + 3) DIV 4 AS LONG)")
        )
        layout = pack_sequences(bpe, 64, 1, tokens_col="n_bpe")
        with pytest.raises(PySparkException, match="token currency|currency"):
            materialize_sequences(layout, docs, 64).collect()
        # the whitespace layout still materializes fine
        ok = materialize_sequences(pack_sequences(docs, 64, 1), docs, 64)
        assert ok.count() == 1
