"""The capped posting pair engine against brute force, for every branch
shape the pipeline runs through it (LSH bands, SimHash chunks with the
Hamming filter, anchors with ``min_shared_anchors``), with and without
a base."""

import random
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from gnames_spark.config import DedupConfig
from gnames_spark.operators.postings import capped_posting_pairs
from gnames_spark.operators.simhash_join import simhash_chunks, within_hamming
from gnames_spark.operators.suffix import shared_anchor_pairs


def brute_pairs(postings, keys, cap, old_ids=frozenset()):
    """One (a < b) entry per shared kept bucket, old–old pairs left out,
    and the overflow {key: n_docs} of the buckets above ``cap``."""
    buckets = defaultdict(list)
    for r in postings:
        buckets[tuple(r[k] for k in keys)].append(r["doc_id"])
    overflow = {k: len(v) for k, v in buckets.items() if cap is not None and len(v) > cap}
    pairs = Counter()
    for k, ids in buckets.items():
        if k not in overflow:
            pairs.update(
                p for p in combinations(sorted(ids), 2)
                if not (p[0] in old_ids and p[1] in old_ids)
            )
    return pairs, overflow


def engine_pairs(pairs):
    return Counter((r.doc_a, r.doc_b) for r in pairs.collect())


def engine_overflow(overflow, keys):
    return {tuple(r[k] for k in keys): r.n_docs for r in overflow.collect()}


@pytest.fixture(scope="module")
def lsh_postings():
    """60 docs × 4 bands over 6 bucket values per band: most buckets
    hold ~10 docs, so a cap of 10 drops some and keeps the rest."""
    rng = random.Random(7)
    return [
        {"doc_id": d, "band": b, "bucket_hash": rng.randrange(6)}
        for d in range(1000, 1060) for b in range(4)
    ]


KEYS = ["band", "bucket_hash"]
SCHEMA = "doc_id long, band int, bucket_hash long"


class TestFullRun:
    def test_lsh_buckets_over_cap(self, spark, lsh_postings):
        df = spark.createDataFrame(lsh_postings, SCHEMA)
        pairs, overflow = capped_posting_pairs(df, KEYS, 10, 4)
        want_pairs, want_over = brute_pairs(lsh_postings, KEYS, 10)
        assert want_over and len(want_over) < 24, "fixture must overflow some buckets"
        assert engine_pairs(pairs) == want_pairs
        assert engine_overflow(overflow, KEYS) == want_over

    def test_no_cap(self, spark, lsh_postings):
        df = spark.createDataFrame(lsh_postings, SCHEMA)
        pairs, overflow = capped_posting_pairs(df, KEYS, None, None)
        assert engine_pairs(pairs) == brute_pairs(lsh_postings, KEYS, None)[0]
        assert overflow.count() == 0
        assert overflow.columns == [*KEYS, "n_docs"]

    def test_simhash_hamming_filter_and_extra_cols(self, spark):
        cfg = DedupConfig(hamming_d=3, shuffle_partitions=4)
        rng = random.Random(11)
        sims = {}
        for d in range(40):
            base = rng.getrandbits(64)
            sims[2 * d] = base
            # a planted near twin: 0-5 flipped bits
            flip = sum(1 << rng.randrange(64) for _ in range(rng.randrange(6)))
            sims[2 * d + 1] = base ^ flip

        def signed(x):
            return x - (1 << 64) if x >= 1 << 63 else x

        df = spark.createDataFrame(
            [(d, signed(s)) for d, s in sims.items()], "doc_id long, simhash long"
        )
        chunks = simhash_chunks(df, cfg)
        pairs, _ = capped_posting_pairs(
            chunks, ["chunk_id", "chunk_val"], cfg.bucket_cap, 4, extra_cols=["simhash"]
        )
        # extra columns travel with their ids through the swap
        for r in pairs.collect():
            assert r.simhash_a == signed(sims[r.doc_a])
            assert r.simhash_b == signed(sims[r.doc_b])
        got = {(r.doc_a, r.doc_b): r.hamming for r in within_hamming(pairs, 3).collect()}
        want = {
            (a, b): bin(sims[a] ^ sims[b]).count("1")
            for a, b in combinations(sorted(sims), 2)
            if bin(sims[a] ^ sims[b]).count("1") <= 3
        }
        assert want and got == want

    def test_anchors_min_shared(self, spark):
        rng = random.Random(5)
        postings = [
            {"doc_id": d, "anchor": a}
            for d in range(50)
            for a in rng.sample(range(40), 4)
        ]
        df = spark.createDataFrame(postings, "doc_id long, anchor long")
        pairs, overflow = capped_posting_pairs(df, ["anchor"], 6, 4)
        got = {(r.doc_a, r.doc_b) for r in shared_anchor_pairs(pairs, 2).collect()}
        shared, over = brute_pairs(postings, ["anchor"], 6)
        assert over, "fixture must overflow some anchors"
        want = {p for p, n in shared.items() if n >= 2}
        assert want and got == want
        assert engine_overflow(overflow, ["anchor"]) == over


class TestWithBase:
    def test_full_pairs_minus_old_old(self, spark, lsh_postings):
        """An increment's pairs are the full run's pairs minus the
        old–old ones; its overflow is counted over base ∪ new, so it
        equals the full run's."""
        old_ids = frozenset(range(1000, 1040))
        df = spark.createDataFrame(lsh_postings, SCHEMA)
        base = df.filter(df.doc_id < 1040)
        new = df.filter(df.doc_id >= 1040)
        pairs, overflow = capped_posting_pairs(new, KEYS, 10, 4, base=base)
        full_pairs, full_over = brute_pairs(lsh_postings, KEYS, 10)
        want = brute_pairs(lsh_postings, KEYS, 10, old_ids)[0]
        assert want == Counter(
            {p: n for p, n in full_pairs.items() if not (p[0] in old_ids and p[1] in old_ids)}
        )
        assert engine_pairs(pairs) == want
        assert engine_overflow(overflow, KEYS) == full_over
        # the new side alone would see smaller buckets and overflow less
        assert engine_overflow(capped_posting_pairs(new, KEYS, 10, 4)[1], KEYS) != full_over
