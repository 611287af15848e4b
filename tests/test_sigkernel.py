"""Fused signature kernel (functions/sigkernel.py) — parity with the
JVM-expression oracle path and determinism contracts.

Modeled on the reference's golden-value kernel tests
(`/root/reference/pkg/ent/score/score_internal_test.go`): the kernel is
pinned against an independent implementation (the Catalyst
higher-order-function path in functions/shingles.py) rather than
against itself.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import generate_pages
from gnames_spark.functions.shingles import shingle_strings
from gnames_spark.functions.sigkernel import (
    make_shingle_set_udf,
    make_signature_udf,
    poly_coeffs,
    shingle_hashes_flat,
    tokenize_hash_batch,
)

CFG = DedupConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def docs(spark):
    pages = generate_pages(spark, 300, seed=7, partitions=8).drop("html")
    return pages.select(F.xxhash64("url").alias("doc_id"), "text").persist()


@pytest.fixture(scope="module")
def sig_rows(spark, docs):
    """The signature kernel's (bands, n_shingles, anchors) next to the
    set kernel's shingle_set, per doc."""
    sig, su = make_signature_udf(CFG), make_shingle_set_udf(CFG)
    out = docs.select(
        "doc_id", sig(F.col("text")).alias("s"), su(F.col("text")).alias("shingle_set")
    ).select("doc_id", "s.bands", "s.n_shingles", "s.anchors", "shingle_set")
    return out.collect()


class TestSignatureKernel:
    def test_shapes(self, sig_rows):
        for r in sig_rows:
            assert len(r["bands"]) in (0, CFG.bands)
            assert r["n_shingles"] == len(r["shingle_set"])
            # anchors are a subset of the shingle set
            assert set(r["anchors"]) <= set(r["shingle_set"])

    def test_n_shingles_matches_jvm_expression_path(self, spark, docs, sig_rows):
        """Same distinct-k-gram count as the independent Catalyst
        higher-order-function implementation, for every doc."""
        jvm = docs.select(
            "doc_id",
            F.size(F.array_distinct(shingle_strings("text", CFG.shingle_k))).alias("n"),
        ).collect()
        jvm_n = {r["doc_id"]: max(r["n"], 0) for r in jvm}
        for r in sig_rows:
            assert r["n_shingles"] == jvm_n[r["doc_id"]]

    def test_jaccard_invariant_under_hash_relabeling(self, spark, docs, sig_rows):
        """Pairwise Jaccard from kernel hash sets == Jaccard from JVM
        string shingle sets (hash relabeling cannot change set overlap)."""
        import itertools

        kernel_sets = {r["doc_id"]: frozenset(r["shingle_set"]) for r in sig_rows}
        jvm = docs.select(
            "doc_id", F.array_distinct(shingle_strings("text", CFG.shingle_k)).alias("ss")
        ).collect()
        jvm_sets = {r["doc_id"]: frozenset(r["ss"]) for r in jvm}
        ids = sorted(kernel_sets)[:60]
        for a, b in itertools.combinations(ids, 2):
            ka, kb = kernel_sets[a], kernel_sets[b]
            ja, jb = jvm_sets[a], jvm_sets[b]
            if not ka or not kb:
                continue
            j_kernel = len(ka & kb) / len(ka | kb)
            j_jvm = len(ja & jb) / len(ja | jb)
            assert abs(j_kernel - j_jvm) < 1e-12

    def test_partition_invariance(self, spark, docs, sig_rows):
        """Signatures are a pure function of text — independent of batch
        and partition boundaries (north_rule determinism)."""
        sig = make_signature_udf(CFG)
        re = (
            docs.repartition(3)
            .select("doc_id", sig(F.col("text")).alias("s"))
            .select("doc_id", "s.bands", "s.n_shingles")
            .collect()
        )
        base = {r["doc_id"]: (list(r["bands"]), r["n_shingles"]) for r in sig_rows}
        for r in re:
            assert base[r["doc_id"]] == (list(r["bands"]), r["n_shingles"])

    def test_set_udf_consistent_with_signature_udf(self, spark, docs, sig_rows):
        """The verification-time shingle_set recomputation, on other
        batch boundaries, has as many shingles as the signatures were
        built from and holds every anchor."""
        su = make_shingle_set_udf(CFG)
        sets = docs.repartition(3).select("doc_id", su(F.col("text")).alias("ss")).collect()
        base = {r["doc_id"]: r for r in sig_rows}
        for r in sets:
            b = base[r["doc_id"]]
            assert len(r["ss"]) == b["n_shingles"]
            assert set(b["anchors"]) <= set(r["ss"])

    def test_empty_and_short_docs(self, spark):
        sig = make_signature_udf(CFG)
        df = spark.createDataFrame(
            [(1, ""), (2, "one two"), (3, None), (4, "a b c d e f g")],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r for r in df.select(
            "doc_id", sig(F.col("text")).alias("s")
        ).select("doc_id", "s.bands", "s.n_shingles").collect()}
        # fewer than k words → no shingles, no bands (never bucketable)
        for d in (1, 2, 3):
            assert rows[d]["n_shingles"] == 0
            assert rows[d]["bands"] == []
        assert rows[4]["n_shingles"] == 7 - CFG.shingle_k + 1
        assert len(rows[4]["bands"]) == CFG.bands

    def test_shingle_windows_never_cross_docs(self):
        """Flat-batch shingling: a window spanning two docs must not
        appear (doc boundaries respected)."""
        import pandas as pd

        k = CFG.shingle_k
        texts = pd.Series(["a b c d e f", "f a b c d e"])  # 6 tokens each
        th, lens = tokenize_hash_batch(texts)
        S, counts = shingle_hashes_flat(th, lens, k, poly_coeffs(k, 101))
        assert list(counts) == [2, 2]
        # doc0 windows: abcde bcdef; doc1: fabcd abcde — shared "a b c d e"
        s0 = set(S[:2].tolist())
        s1 = set(S[2:].tolist())
        assert len(s0 & s1) == 1
