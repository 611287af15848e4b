"""End-to-end pipeline + checkpoint/resume tests (FIXTURES.md §4:
kill after stage k, rerun with same config hash → identical output)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import generate_pages
from gnames_spark.pipeline import DedupPipeline

CFG = DedupConfig(shuffle_partitions=8, bucket_cap=300)
SEED = 11
N = 250


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N, seed=SEED).cache()


@pytest.fixture(scope="module")
def run_nockpt(spark, pages):
    """One shared no-checkpoint pipeline run."""
    return DedupPipeline(spark, CFG).run(pages)


def _components_dict(res):
    return {
        r["doc_id"]: r["component_id"] for r in res["components"].collect()
    }


class TestPipeline:
    def test_end_to_end_no_checkpoint(self, spark, pages, run_nockpt):
        res = run_nockpt
        comps = _components_dict(res)
        assert len(comps) == N
        n_clusters = len(set(comps.values()))
        assert 0 < n_clusters < N  # dups exist, not everything merged
        reps = res["representatives"]
        assert reps.filter("is_representative").count() == n_clusters
        # html must be gone from docs (column pruning contract)
        assert "html" not in res["docs"].columns

    def test_checkpoint_and_resume(self, spark, pages, tmp_path):
        root = str(tmp_path / "ckpt")
        pipe1 = DedupPipeline(spark, CFG, checkpoint_root=root)
        res1 = pipe1.run(pages)
        c1 = _components_dict(res1)
        core = ["docs", "signatures", "candidate_pairs", "verified_pairs", "components"]
        stages = [m.stage for m in pipe1.metrics.stages if m.stage in core]
        assert stages == core
        assert not any(m.reused for m in pipe1.metrics.stages)

        # simulate kill after stage 2: wipe downstream stages
        pipe_kill = DedupPipeline(spark, CFG, checkpoint_root=root)
        pipe_kill.io.invalidate("verified_pairs")
        pipe_kill.io.invalidate("components")
        res2 = pipe_kill.run(pages)
        c2 = _components_dict(res2)
        reused = {m.stage: m.reused for m in pipe_kill.metrics.stages}
        assert reused["docs"] and reused["signatures"] and reused["candidate_pairs"]
        assert not reused["verified_pairs"] and not reused["components"]
        assert c1 == c2  # identical final components (order-insensitive)

    def test_config_change_invalidates(self, spark, tmp_path):
        small = generate_pages(spark, 60, seed=SEED)
        root = str(tmp_path / "ckpt2")
        DedupPipeline(spark, CFG, checkpoint_root=root).run(small)
        # min_substring_len raised alongside: k=7 shifts the winnowing
        # guarantee threshold above 512 (validate() enforces it)
        other = CFG.with_overrides(shingle_k=7, min_substring_len=640)
        pipe2 = DedupPipeline(spark, other, checkpoint_root=root)
        pipe2.run(small)
        assert not any(m.reused for m in pipe2.metrics.stages)

    def test_manifest_and_metrics(self, spark, tmp_path):
        small = generate_pages(spark, 60, seed=SEED)
        root = str(tmp_path / "ckpt3")
        pipe = DedupPipeline(spark, CFG, checkpoint_root=root)
        pipe.run(small)
        with open(os.path.join(root, "signatures", "_manifest.json")) as f:
            m = json.load(f)
        assert m["complete"] and m["config_hash"] == CFG.config_hash()
        assert m["rows"] > 0 and "bands" in m["schema"]
        docs_m = [x for x in pipe.metrics.stages if x.stage == "docs"][0]
        assert docs_m.docs_per_sec > 0
        out = json.loads(pipe.metrics.to_json())
        core = {"docs", "signatures", "candidate_pairs", "verified_pairs", "components"}
        assert out["run_id"]
        assert core <= {m["stage"] for m in out["stages"]}
        # overflow observability: truncation metrics are always present
        assert any(m["stage"] == "lsh_overflow_buckets" for m in out["stages"])

    def test_checkpoint_partition_lineage(self, spark, tmp_path):
        """Each checkpoint carries per-partition lineage rows and the
        manifest summarizes them (north_rule: per-partition lineage +
        metrics with every checkpoint)."""
        small = generate_pages(spark, 60, seed=SEED)
        root = str(tmp_path / "ckpt4")
        DedupPipeline(spark, CFG, checkpoint_root=root).run(small)
        lineage = spark.read.parquet(os.path.join(root, "docs", "lineage"))
        assert set(lineage.columns) == {"partition_id", "rows"}
        rows = lineage.agg(F.sum("rows")).collect()[0][0]
        with open(os.path.join(root, "docs", "_manifest.json")) as f:
            m = json.load(f)
        assert m["rows"] == rows == 60
        assert m["n_partitions"] >= 1 and m["max_partition_rows"] <= 60

    def test_full_production_config(self, spark, pages):
        """The bench's full-config tier (all hygiene gates + substring
        screen ON — the config dedup_pipeline_120k_fullconfig measures)
        keeps the recall contract AGAINST POST-PRECLEAN TRUTH: the gates
        legitimately move borderline near-pairs below tau (stripping
        shared chrome shrinks the set intersection — observed at this
        seed: a planted near-pair drops from >=0.8 to 0.60-0.69), so
        the oracle is recomputed on the CLEANED text, exactly the
        recall_check.py contract."""
        from gnames_spark.corpus import expected_dup_groups

        fcfg = CFG.with_overrides(
            collapse_url_snapshots=True,
            strip_shared_lines_min_docs=8,
            max_dup_line_frac=0.9,
            max_top_gram_frac=0.5,
            redact_pii=True,
        )
        res = DedupPipeline(spark, fcfg).run(pages)
        docs = res["docs"]
        n_docs = docs.count()
        assert 0 < n_docs <= N  # gates may only drop, never duplicate
        comps = _components_dict(res)
        assert len(comps) == n_docs

        from gnames_spark.functions.shingles import shingle_set

        rows = docs.select(
            "doc_id", "url", "content_sha",
            shingle_set("text", fcfg.shingle_k).alias("ss"),
        ).collect()
        by_idx = {int(r["url"].rsplit("/", 1)[1]): r for r in rows}
        truth_pairs, found = [], 0
        for g, members in expected_dup_groups(SEED, N).items():
            survivors = [by_idx[m] for m in members if m in by_idx]
            for i in range(len(survivors)):
                for j in range(i + 1, len(survivors)):
                    a, b = survivors[i], survivors[j]
                    sa, sb = set(a["ss"]), set(b["ss"])
                    exact = a["content_sha"] == b["content_sha"]
                    jac = (
                        len(sa & sb) / len(sa | sb) if sa and sb else 0.0
                    )
                    if exact or jac >= fcfg.jaccard_threshold:
                        truth_pairs.append((a["doc_id"], b["doc_id"]))
                        if comps[a["doc_id"]] == comps[b["doc_id"]]:
                            found += 1
        assert len(truth_pairs) >= 10  # the gates must not erase truth
        # toy scale: every post-clean truth pair must cluster (the
        # >=0.99 statistical gate is recall_check.py's job at 100k+)
        assert found == len(truth_pairs), (found, len(truth_pairs))

    def test_candidates_come_from_exact_lsh_and_anchors_only(self, spark, pages):
        """The batch candidate families are exact identity, LSH bands
        and winnowing anchors; no SimHash branch runs or logs overflow,
        and the signature table carries no fingerprint."""
        pipe = DedupPipeline(spark, CFG)
        res = pipe.run(pages)
        methods = {r["method"] for r in res["candidate_pairs"].select("method").distinct().collect()}
        assert "exact" in methods and methods <= {"exact", "lsh", "anchor"} and len(methods) > 1
        stages = {m.stage for m in pipe.metrics.stages}
        assert {"lsh_overflow_buckets", "anchor_overflow"} <= stages
        assert "simhash_overflow_chunks" not in stages
        assert set(res["signatures"].columns) == {
            "doc_id", "bands", "n_shingles", "anchors", "config_hash"
        }

    def test_exact_members_inherit_component(self, spark, pages, run_nockpt):
        """Non-representative exact copies land in the same component as
        their representative (the early-exit cascade must not lose them)."""
        res = run_nockpt
        docs = res["docs"].select("doc_id", "content_sha")
        comps = res["components"]
        j = docs.join(comps, "doc_id")
        n_violations = (
            j.groupBy("content_sha")
            .agg(F.countDistinct("component_id").alias("n"))
            .filter("n > 1")
            .count()
        )
        assert n_violations == 0


class TestPrecleanOrdering:
    """Cheap-screen-before-expensive-work: the URL-level hygiene gates
    (domain blocklist, snapshot collapse) read only url/warc_ts, so
    they must run BEFORE html extraction — on a real crawl they drop
    30-50% of pages, and those pages must never pay the single most
    expensive kernel in the pipeline."""

    def test_extraction_never_sees_blocked_or_stale_rows(
        self, spark, monkeypatch
    ):
        import datetime as dt

        from pyspark.sql import types as T

        import gnames_spark.pipeline as pl

        acc = spark.sparkContext.accumulator(0)

        def counting_extract(col):
            @F.udf(T.StringType())
            def _u(h):
                s = bytes(h).decode("utf-8", "replace")
                if "MUST-NOT-EXTRACT" in s:
                    acc.add(1)
                return s

            return _u(F.col(col) if isinstance(col, str) else col)

        monkeypatch.setattr(pl, "extract_text", counting_extract)
        ts = lambda d: dt.datetime(2026, 1, d)  # noqa: E731
        rows = [
            ("https://bad.example.com/p", ts(1), b"MUST-NOT-EXTRACT a"),
            ("https://sub.bad.example.com/q", ts(1), b"MUST-NOT-EXTRACT b"),
            ("https://ok.com/a", ts(1), b"MUST-NOT-EXTRACT stale"),
            ("https://ok.com/a", ts(2), b"fresh snapshot body text"),
            ("https://fine.com/x", ts(1), b"clean page body text"),
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary"
        )
        cfg = DedupConfig(
            shuffle_partitions=4,
            blocked_domains=("bad.example.com",),
            collapse_url_snapshots=True,
        )
        docs = pl.DedupPipeline(spark, cfg).prepare_docs(pages)
        assert {r.url for r in docs.collect()} == {
            "https://ok.com/a", "https://fine.com/x"
        }
        # the extraction kernel processed ONLY the survivors: no
        # blocked-domain page, no superseded snapshot
        assert acc.value == 0

    def test_report_interleaves_extraction_same_counts(
        self, spark, monkeypatch
    ):
        # preclean_report shares the split code path: url gates audit
        # pre-extraction, text gates post-extraction, same survivors
        import datetime as dt

        import gnames_spark.pipeline as pl

        ts = lambda d: dt.datetime(2026, 1, d)  # noqa: E731
        rows = [
            ("https://bad.example.com/p", ts(1), "blocked body"),
            ("https://ok.com/a", ts(1), "stale body"),
            ("https://ok.com/a", ts(2), "fresh body"),
            ("https://fine.com/x", ts(1), "clean body"),
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, text string"
        )
        cfg = DedupConfig(
            shuffle_partitions=4,
            blocked_domains=("bad.example.com",),
            collapse_url_snapshots=True,
        )
        pipe = pl.DedupPipeline(spark, cfg)
        gates = [
            (r.gate, r.n_in, r.n_out)
            for r in pipe.preclean_report(pages).collect()
        ]
        assert gates == [
            ("blocked_domains", 4, 3),
            ("collapse_url_snapshots", 3, 2),
        ]
        assert pipe.prepare_docs(pages).count() == 2


class TestConfigGuarantee:
    def test_default_config_satisfies_winnow_guarantee(self):
        DedupConfig().validate()

    def test_validate_rejects_unguaranteed_substring_len(self):
        with pytest.raises(ValueError, match="winnowing"):
            DedupConfig(min_substring_len=100).validate()

    def test_one_anchor_threshold_is_lower(self):
        c2 = DedupConfig()
        c1 = c2.with_overrides(min_shared_anchors=1)
        assert c1.substring_guarantee_chars() < c2.substring_guarantee_chars()

    def test_config_hash_is_pinned(self):
        """Every checkpoint store is stamped with this hash: a change to
        the payload (a new, retired or renamed field) would make every
        standing store refuse its stages."""
        assert DedupConfig().config_hash() == "c75874e523cf4b7a"
        fullconfig = DedupConfig(
            collapse_url_snapshots=True, strip_shared_lines_min_docs=8,
            max_dup_line_frac=0.9, max_top_gram_frac=0.5, redact_pii=True,
        )
        assert fullconfig.config_hash() == "c29c9549161e47fc"


class TestAnchorOverflowRouting:
    def test_default_routing_skips_overflow_but_logs(self, spark):
        """Overflowed-anchor pairs do NOT flood LCS (the cap is the
        recall bound); the drop volume is recorded in metrics (never
        silent)."""
        common = ("shared boilerplate sentence with many stable words "
                  "keeps flowing onward through the page body " * 12)
        docs = [(i, common + f" tail variant {i} alpha beta gamma") for i in range(6)]
        pages = spark.createDataFrame(docs, "doc_id long, text string").withColumn(
            "url", F.concat(F.lit("u"), F.col("doc_id"))
        ).withColumn("lang", F.lit("en")).select("url", "doc_id", "text", "lang")
        cfg = DedupConfig(
            shuffle_partitions=4, shingle_k=3, winnow_window=8,
            min_substring_len=200, min_shared_anchors=1, anchor_cap=1,
        )
        pipe = DedupPipeline(spark, cfg)
        res = pipe.run(pages)
        res["verified_pairs"].count()
        ov = [m for m in pipe.metrics.stages if m.stage == "anchor_overflow"]
        assert ov and ov[0].extra.get("dropped_docs", 0) > 0


class TestEmbeddingModality:
    """Optional embedding-cosine branch: semantic twins whose TEXT
    differs cluster together only when embeddings are supplied."""

    def _pages(self, spark):
        docs = [
            (1, "the quick brown fox jumps over a lazy dog near the river bank today"),
            (2, "completely different words describing an unrelated topic about stars"),
        ] + [
            (10 + i, f"unique filler document number {i} with nothing shared across pages {i}")
            for i in range(6)
        ]
        return (
            spark.createDataFrame(docs, "doc_id long, text string")
            .withColumn("url", F.concat(F.lit("u"), F.col("doc_id")))
            .withColumn("lang", F.lit("en"))
            .select("url", "doc_id", "text", "lang")
        )

    def _embeddings(self, spark):
        import numpy as np

        rng = np.random.RandomState(5)
        base = rng.standard_normal(16)
        twin = base + rng.standard_normal(16) * 0.01  # cosine ~ 0.9999
        rows = [(1, [float(x) for x in base]), (2, [float(x) for x in twin])]
        for i in range(6):
            rows.append((10 + i, [float(x) for x in rng.standard_normal(16)]))
        return spark.createDataFrame(rows, "doc_id long, embedding array<double>")

    def test_semantic_twins_merge_only_with_embeddings(self, spark):
        pages = self._pages(spark)
        cfg = DedupConfig(shuffle_partitions=4)
        without = DedupPipeline(spark, cfg).run(pages)
        cw = _components_dict(without)
        assert cw[1] != cw[2], "text paths must NOT merge different texts"

        res = DedupPipeline(spark, cfg).run(pages, embeddings=self._embeddings(spark))
        cd = _components_dict(res)
        assert cd[1] == cd[2], "embedding edge must merge the semantic twins"
        ver = {
            (r["doc_a"], r["doc_b"]): r
            for r in res["verified_pairs"].collect()
        }
        row = ver[(1, 2)]
        assert row["method"] == "embedding" and row["passed"]
        assert row["cosine"] is not None and row["cosine"] >= cfg.emb_threshold
        assert row["jaccard"] is None

    def test_plans_unchanged_without_embeddings(self, spark):
        """embeddings=None keeps the original stage set (no verified_all,
        no embedding_pairs) — the modality is purely additive."""
        pages = self._pages(spark)
        pipe = DedupPipeline(spark, DedupConfig(shuffle_partitions=4))
        res = pipe.run(pages)
        assert "embedding_pairs" not in res
        stage_names = {m.stage for m in pipe.metrics.stages}
        assert "verified_all" not in stage_names and "embedding_pairs" not in stage_names

    def test_exact_outranks_embedding(self, spark):
        """A pair that is BOTH byte-identical and embedding-close keeps
        method='exact' through the merge (deterministic precedence)."""
        same = "identical page text shared by both documents word for word"
        docs = [(1, same), (2, same)]
        pages = (
            spark.createDataFrame(docs, "doc_id long, text string")
            .withColumn("url", F.concat(F.lit("u"), F.col("doc_id")))
            .withColumn("lang", F.lit("en"))
            .select("url", "doc_id", "text", "lang")
        )
        emb = spark.createDataFrame(
            [(1, [1.0] * 8), (2, [1.0] * 8)], "doc_id long, embedding array<double>"
        )
        res = DedupPipeline(spark, DedupConfig(shuffle_partitions=4)).run(
            pages, embeddings=emb
        )
        ver = {(r["doc_a"], r["doc_b"]): r["method"] for r in res["verified_pairs"].collect()}
        assert ver[(1, 2)] == "exact"

    def test_hot_bucket_cap_logged(self, spark):
        """A dense embedding region overflows emb_bucket_cap; the drop is
        metered, never silent."""
        pages = self._pages(spark)
        rows = [(d, [1.0, 0.5, 0.25, 0.125]) for d in [1, 2] + [10 + i for i in range(6)]]
        emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
        cfg = DedupConfig(shuffle_partitions=4, emb_bucket_cap=2)
        pipe = DedupPipeline(spark, cfg)
        res = pipe.run(pages, embeddings=emb)
        res["verified_pairs"].count()
        ov = [m for m in pipe.metrics.stages if m.stage == "emb_overflow_buckets"]
        assert ov and ov[0].extra.get("dropped_docs", 0) > 0
        # capped → the identical-embedding pairs are NOT merged
        assert res["embedding_pairs"].count() == 0

    def test_cli_batch_with_embeddings(self, spark, tmp_path):
        """--embeddings drives the modality through the spark-submit
        surface: the semantic twins land in one component in the
        written output."""
        from gnames_spark.cli import main

        pages = self._pages(spark)
        inp = str(tmp_path / "pages.parquet")
        pages.write.parquet(inp)
        embp = str(tmp_path / "emb.parquet")
        self._embeddings(spark).write.parquet(embp)
        out = str(tmp_path / "out")
        assert main(["--input", inp, "--output", out,
                     "--embeddings", embp, "--shuffle-partitions", "4"]) == 0
        comp = {
            r["doc_id"]: r["component_id"]
            for r in spark.read.parquet(f"{out}/components").collect()
        }
        assert comp[1] == comp[2]


class TestCurationTail:
    def test_cli_mix_and_pack(self, spark, tmp_path):
        """--mix-alpha/--pack-budget append the training-set deliverable
        to the batch job: kept representatives -> temperature mix ->
        packing layout, written next to the standard outputs."""
        from gnames_spark.cli import main

        pages = generate_pages(spark, 300, seed=SEED)
        inp = str(tmp_path / "pages.parquet")
        pages.write.parquet(inp)
        out = str(tmp_path / "out")
        assert main([
            "--input", inp, "--output", out, "--shuffle-partitions", "4",
            "--mix-alpha", "0.5", "--pack-budget", "64",
            "--pack-shards", "2",
        ]) == 0

        kept = {
            r.doc_id
            for r in spark.read.parquet(f"{out}/representatives")
            .filter("is_representative")
            .collect()
        }
        train = spark.read.parquet(f"{out}/training_set").collect()
        assert 0 < len(train) <= len(kept)
        assert {r.doc_id for r in train} <= kept
        assert {"doc_id", "lang"} <= set(train[0].asDict())

        layout = spark.read.parquet(f"{out}/training_layout").collect()
        assert {r.doc_id for r in layout} == {r.doc_id for r in train}
        by_shard: dict[int, list] = {}
        for r in layout:
            by_shard.setdefault(r.shard, []).append(r)
        assert set(by_shard) == {0, 1}
        for rows in by_shard.values():
            rows.sort(key=lambda r: r.start_offset)
            pos = 0
            for r in rows:
                assert r.start_offset == pos
                pos += r.n_tokens

    def test_cli_mix_mode_repeat(self, spark, tmp_path):
        """--mix-mode repeat upsamples: every kept representative
        survives (>=1 copy, the head stratum exactly once), training_set
        carries the 0-based copy column, and the packing layout lays the
        repeated multiset out contiguously."""
        from gnames_spark.cli import main

        pages = generate_pages(spark, 300, seed=SEED)
        inp = str(tmp_path / "pages_rep.parquet")
        pages.write.parquet(inp)
        out = str(tmp_path / "out_rep")
        assert main([
            "--input", inp, "--output", out, "--shuffle-partitions", "4",
            "--mix-alpha", "0.5", "--mix-mode", "repeat",
            "--pack-budget", "64", "--pack-shards", "2",
        ]) == 0

        kept = {
            r.doc_id
            for r in spark.read.parquet(f"{out}/representatives")
            .filter("is_representative")
            .collect()
        }
        train = spark.read.parquet(f"{out}/training_set").collect()
        # upsampling never drops: every representative appears >= once
        assert {r.doc_id for r in train} == kept
        assert len(train) >= len(kept)
        assert "copy" in train[0].asDict()
        # per-doc copies are 0-based and contiguous
        by_doc: dict[int, list[int]] = {}
        for r in train:
            by_doc.setdefault(r.doc_id, []).append(r.copy)
        for copies in by_doc.values():
            assert sorted(copies) == list(range(len(copies)))

        layout = spark.read.parquet(f"{out}/training_layout").collect()
        assert len(layout) == len(train)  # one layout row per copy
        # both artifacts are keyed by (doc_id, copy): joining them on it
        # is 1:1 — no fan-out over a doc's repeated rows, nothing dropped
        keys = {(r.doc_id, r.copy) for r in layout}
        assert len(keys) == len(layout)
        assert keys == {(r.doc_id, r.copy) for r in train}
        joined = spark.read.parquet(f"{out}/training_set").join(
            spark.read.parquet(f"{out}/training_layout"), ["doc_id", "copy"]
        )
        assert joined.count() == len(train)
        by_shard: dict[int, list] = {}
        for r in layout:
            by_shard.setdefault(r.shard, []).append(r)
        for rows in by_shard.values():
            rows.sort(key=lambda r: r.start_offset)
            pos = 0
            for r in rows:
                assert r.start_offset == pos
                pos += r.n_tokens

    def test_cli_pack_only_without_lang(self, spark, tmp_path):
        """--pack-budget alone works on a (url, text)-only corpus —
        packing never needed lang."""
        from gnames_spark.cli import main

        pages = generate_pages(spark, 120, seed=SEED).select("url", "text")
        inp = str(tmp_path / "pages2.parquet")
        pages.write.parquet(inp)
        out = str(tmp_path / "out2")
        assert main([
            "--input", inp, "--output", out, "--shuffle-partitions", "4",
            "--pack-budget", "64", "--pack-shards", "2",
        ]) == 0
        layout = spark.read.parquet(f"{out}/training_layout")
        assert layout.count() > 0
        assert "lang" not in spark.read.parquet(f"{out}/training_set").columns

    def test_cli_mix_mode_without_alpha_fails_fast(self):
        # --mix-mode repeat with no --mix-alpha would otherwise be
        # silently ignored (no mixing, no copy column, exit 0)
        from gnames_spark.cli import main

        assert main([
            "--input", "/nonexistent", "--output", "/nonexistent",
            "--mix-mode", "repeat",
        ]) == 2

    def test_cli_mix_without_lang_fails_fast(self, spark, tmp_path):
        from gnames_spark.cli import main

        pages = generate_pages(spark, 60, seed=SEED).select("url", "text")
        inp = str(tmp_path / "pages3.parquet")
        pages.write.parquet(inp)
        assert main([
            "--input", inp, "--output", str(tmp_path / "out3"),
            "--shuffle-partitions", "4", "--mix-alpha", "0.5",
        ]) == 2
