"""Incremental dedup tests.

The headline assertion: folding an increment into a deduped base with
``DedupPipeline.run_incremental`` yields EXACTLY the (doc_id,
component_id) assignment a from-scratch run over base ∪ increment
produces — the identity :func:`merge_components` guarantees (old
component ids are component minima, so contraction preserves global
minima). Plus unit oracles for the incremental posting join (set
algebra vs the full-corpus pair set) and the contraction merge
(union-find)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import generate_pages
from gnames_spark.operators.incremental import (
    incremental_jaccard_pairs,
    merge_components,
)
from gnames_spark.operators.verify import exact_jaccard_pairs
from gnames_spark.pipeline import DedupPipeline

# caps lifted: the full-vs-incremental identity is exact only when no
# bucket overflows (a bucket that overflows in the combined corpus but
# not in the base alone keeps its base-run edges incrementally while a
# fresh run drops them — recall >= full run, documented divergence)
CFG = DedupConfig(shuffle_partitions=8, bucket_cap=100_000, anchor_cap=100_000)
SEED = 23
N = 240


@pytest.fixture(scope="module")
def split_pages(spark):
    pages = generate_pages(spark, N, seed=SEED).cache()
    is_inc = F.pmod(F.xxhash64("url"), F.lit(4)) == F.lit(0)  # ~25% increment
    return pages, pages.filter(~is_inc).cache(), pages.filter(is_inc).cache()


@pytest.fixture(scope="module")
def full_res(spark, split_pages):
    return DedupPipeline(spark, CFG).run(split_pages[0])


@pytest.fixture(scope="module")
def base_res(spark, split_pages):
    return DedupPipeline(spark, CFG).run(split_pages[1])


@pytest.fixture(scope="module")
def inc_res(spark, split_pages, base_res):
    return DedupPipeline(spark, CFG).run_incremental(split_pages[2], base_res)


def _assign(df):
    return {(r["doc_id"], r["component_id"]) for r in df.collect()}


class TestIncrementalPipeline:
    def test_matches_full_run(self, spark, split_pages, full_res, base_res, inc_res):
        pages, base_pages, inc_pages = split_pages
        assert 0 < inc_pages.count() < pages.count()
        want = _assign(full_res["components"])
        base, inc = base_res, inc_res
        got = _assign(inc["components"])
        assert got == want
        # and some increment docs actually merged into base clusters
        # (the corpus plants dup groups across the url-hash split)
        base_ids = {r["doc_id"] for r in base["docs"].select("doc_id").collect()}
        by_comp: dict[int, set[int]] = {}
        for d, c in got:
            by_comp.setdefault(c, set()).add(d)
        straddling = sum(
            1
            for members in by_comp.values()
            if len(members) > 1
            and any(m in base_ids for m in members)
            and any(m not in base_ids for m in members)
        )
        assert straddling > 0

    def test_incremental_summary_matches_full_recompute(
        self, spark, full_res, inc_res
    ):
        """cluster_summary is MAINTAINED across the fold-in (untouched
        rows stream through, only merge-touched + new components
        aggregate) — must equal the full-corpus aggregation."""
        from gnames_spark.operators.representatives import cluster_summary

        want = {
            (r["component_id"], r["n_docs"], r["rep_doc"])
            for r in cluster_summary(full_res["components"]).collect()
        }
        got = {
            (r["component_id"], r["n_docs"], r["rep_doc"])
            for r in inc_res["cluster_summary"].collect()
        }
        assert got == want

    def test_signs_only_new_content(self, spark, split_pages, base_res, inc_res):
        """Increment docs byte-identical to base content are linked via
        exact edges and never re-signed (the early-exit cascade holds
        across batches)."""
        _, base_pages, inc_pages = split_pages
        base, inc = base_res, inc_res
        n_base_sigs = base["signatures"].count()
        n_new_sigs = inc["signatures"].count() - n_base_sigs
        # new signatures == increment content that is distinct AND absent
        # from the base corpus
        base_shas = {
            r["content_sha"]
            for r in base["docs"].select("content_sha").distinct().collect()
        }
        inc_shas = {
            r["content_sha"]
            for r in inc["docs"]
            .join(base["docs"].select("doc_id"), "doc_id", "left_anti")
            .select("content_sha")
            .distinct()
            .collect()
        }
        assert n_new_sigs == len(inc_shas - base_shas)
        assert n_new_sigs < inc_pages.count()  # some content was already known

    def test_base_with_legacy_simhash_column_folds_in(self, spark, split_pages, full_res, base_res):
        """A store whose signatures were written by the older kernel
        still carries a ``simhash`` column between ``bands`` and
        ``n_shingles``; folding into it must equal the fresh run."""
        sigs = base_res["signatures"]
        legacy = sigs.select(
            "doc_id", "bands", F.xxhash64("doc_id").alias("simhash"),
            *[c for c in sigs.columns if c not in ("doc_id", "bands")],
        )
        out = DedupPipeline(spark, CFG).run_incremental(
            split_pages[2], {**base_res, "signatures": legacy}
        )
        assert _assign(out["components"]) == _assign(full_res["components"])
        assert "simhash" not in out["signatures"].columns


class TestIncrementalJaccard:
    def test_set_algebra_vs_full_pair_set(self, spark):
        """pairs(all) == pairs(base) ∪ incremental(new vs base), and the
        incremental set is exactly the increment-touching pairs."""
        rng = np.random.RandomState(7)
        rows = [
            (i, sorted({int(x) for x in rng.choice(60, size=rng.randint(5, 25))}))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, shingle_set array<long>")
        base, new = df.filter("doc_id < 30"), df.filter("doc_id >= 30")

        def pairs(d):
            return {
                (r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in d.collect()
            }

        allp = pairs(exact_jaccard_pairs(df, 0.2))
        basep = pairs(exact_jaccard_pairs(base, 0.2))
        incp = pairs(incremental_jaccard_pairs(new, base, 0.2))
        assert len(allp) > len(basep) > 0
        assert incp == allp - basep


class TestIncrementalCLI:
    def test_chained_batches_promote_and_match_full_run(self, spark, tmp_path):
        """The spark-submit surface end-to-end (in-process): base run,
        two --incremental batches promoted into the checkpoint store,
        an idempotent re-run of an already-promoted batch — final
        standing assignment equals a from-scratch run over everything."""
        from gnames_spark.checkpoint import ParquetCheckpointIO
        from gnames_spark.cli import main

        pages = generate_pages(spark, 180, seed=31).cache()
        part = F.pmod(F.xxhash64("url"), F.lit(3))
        paths = {}
        for i in range(3):
            p = str(tmp_path / f"batch{i}.parquet")
            pages.filter(part == F.lit(i)).write.parquet(p)
            paths[i] = p
        ckpt = str(tmp_path / "ckpt")
        caps = ["--bucket-cap", "100000", "--anchor-cap", "100000",
                "--shuffle-partitions", "8"]
        assert main(["--input", paths[0], "--output", str(tmp_path / "o0"),
                     "--checkpoint-dir", ckpt] + caps) == 0
        assert main(["--input", paths[1], "--output", str(tmp_path / "o1"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b1"] + caps) == 0
        # idempotent re-run of an already-promoted batch
        assert main(["--input", paths[1], "--output", str(tmp_path / "o1b"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b1"] + caps) == 0
        assert main(["--input", paths[2], "--output", str(tmp_path / "o2"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b2"] + caps) == 0

        cfg = DedupConfig(shuffle_partitions=8, bucket_cap=100_000, anchor_cap=100_000)
        io = ParquetCheckpointIO(ckpt, cfg.config_hash())
        assert io.is_complete("components")
        got = _assign(io.read(spark, "components"))
        want = _assign(DedupPipeline(spark, cfg).run(pages)["components"])
        assert got == want
        # standing docs table covers the whole corpus exactly once
        assert io.read(spark, "docs").select("doc_id").distinct().count() == 180
        assert io.read(spark, "docs").count() == 180


class TestCheckpointSafety:
    def test_remote_checkpoint_root_rejected(self):
        """Manifests/markers are driver-local files: an object-store or
        HDFS root would split-brain the store, so construction fails
        fast with a pointer at the Iceberg backend."""
        from gnames_spark.checkpoint import ParquetCheckpointIO

        for root in ("s3://b/ckpt", "s3a://b/ckpt", "hdfs://nn/ckpt",
                     "gs://b/ckpt", "abfss://c@a/ckpt"):
            with pytest.raises(ValueError, match="Iceberg"):
                ParquetCheckpointIO(root, "cfg")

    def test_file_uri_normalized(self, tmp_path):
        from gnames_spark.checkpoint import ParquetCheckpointIO

        io = ParquetCheckpointIO(f"file://{tmp_path}/ck", "cfg")
        assert io.root == f"{tmp_path}/ck"

    def test_half_applied_promote_refuses_new_batch_then_heals(
        self, spark, tmp_path
    ):
        """Crash window between stage promotes: docs carry batch b1 but
        components do not. Folding a DIFFERENT batch must be refused
        (coherence guard on manifest row counts); re-running b1 heals
        the store; the next batch then folds and the final assignment
        equals a from-scratch run."""
        import os

        from gnames_spark.checkpoint import ParquetCheckpointIO
        from gnames_spark.cli import main

        pages = generate_pages(spark, 120, seed=37).cache()
        part = F.pmod(F.xxhash64("url"), F.lit(3))
        paths = {}
        for i in range(3):
            p = str(tmp_path / f"b{i}.parquet")
            pages.filter(part == F.lit(i)).write.parquet(p)
            paths[i] = p
        ckpt = str(tmp_path / "ckpt")
        caps = ["--bucket-cap", "100000", "--anchor-cap", "100000",
                "--shuffle-partitions", "8"]
        assert main(["--input", paths[0], "--output", str(tmp_path / "o0"),
                     "--checkpoint-dir", ckpt] + caps) == 0

        cfg = DedupConfig(shuffle_partitions=8, bucket_cap=100_000,
                          anchor_cap=100_000)
        io = ParquetCheckpointIO(ckpt, cfg.config_hash())
        base_comp_rows = [
            (r["doc_id"], r["component_id"])
            for r in io.read(spark, "components").collect()
        ]
        assert main(["--input", paths[1], "--output", str(tmp_path / "o1"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b1"] + caps) == 0
        # simulate the crash: components rolled back to the base
        # assignment, marker gone — docs/signatures carry b1, components
        # do not, every stage individually complete
        io.write(
            spark.createDataFrame(base_comp_rows, "doc_id long, component_id long"),
            "components",
        )
        os.remove(os.path.join(ckpt, "_promoted_batches.json"))
        assert io.manifest_rows("docs") != io.manifest_rows("components")

        # a NEW batch must be refused
        assert main(["--input", paths[2], "--output", str(tmp_path / "o2"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b2"] + caps) == 2
        # re-running the crashed batch heals (inc_b1_* stages reused)
        assert main(["--input", paths[1], "--output", str(tmp_path / "o1h"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b1"] + caps) == 0
        assert io.manifest_rows("docs") == io.manifest_rows("components")
        # and the next batch now folds cleanly
        assert main(["--input", paths[2], "--output", str(tmp_path / "o2b"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b2"] + caps) == 0
        got = _assign(io.read(spark, "components"))
        want = _assign(DedupPipeline(spark, cfg).run(pages)["components"])
        assert got == want


class TestRemoveDocs:
    def test_bridge_removal_splits_component(self, spark):
        """Removing the bridge doc of a chain splits its component;
        untouched components and singletons pass through."""
        from gnames_spark.operators.components import all_components, connected_components
        from gnames_spark.operators.incremental import remove_docs

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
        )
        docs = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 10, 11, 20)], "doc_id long"
        )
        base = all_components(docs, connected_components(edges, max_iterations=20))
        rm = spark.createDataFrame([(2,)], "doc_id long")
        got = {
            r["doc_id"]: r["component_id"]
            for r in remove_docs(base, edges, rm, max_iterations=20).collect()
        }
        assert got == {1: 1, 3: 3, 4: 3, 10: 10, 11: 10, 20: 20}

    def test_upsert_equals_fresh_run(self, spark):
        """The full upsert flow — remove the old versions of re-crawled
        urls, fold the new versions in — must equal a from-scratch run
        over the v2 corpus."""
        from gnames_spark.operators.incremental import remove_docs

        # html dropped: prepare_docs re-extracts text when html is
        # present, which would overwrite the recrawl marker below
        v1 = generate_pages(spark, 160, seed=51).drop("html").cache()
        # re-crawl targets: urls whose v1 content is unique (so removal
        # orphans no shared-content signature — see remove_docs caveat)
        from gnames_spark.operators.exact import with_content_sha

        sha_counts = (
            with_content_sha(v1.withColumn("doc_id", F.xxhash64("url")))
            .groupBy("content_sha")
            .agg(F.count("*").alias("n"), F.first("url").alias("url"))
            .filter("n = 1")
            .limit(12)
        )
        target_urls = {r["url"] for r in sha_counts.collect()}
        is_target = F.col("url").isin(list(target_urls))
        updated = v1.filter(is_target).withColumn(
            "text", F.concat(F.col("text"), F.lit(" recrawl marker tokens appended"))
        ).cache()
        v2 = v1.filter(~is_target).unionByName(updated)

        want = _assign(DedupPipeline(spark, CFG).run(v2)["components"])

        base = DedupPipeline(spark, CFG).run(v1)
        rm = v1.filter(is_target).select(F.xxhash64("url").alias("doc_id"))
        pruned_assign = remove_docs(
            base["components"],
            base["verified_pairs"].filter("passed").select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            ),
            rm,
        )
        pruned_base = {
            "docs": base["docs"].join(F.broadcast(rm), "doc_id", "left_anti"),
            "signatures": base["signatures"].join(F.broadcast(rm), "doc_id", "left_anti"),
            "components": pruned_assign,
        }
        inc = DedupPipeline(spark, CFG).run_incremental(updated, pruned_base)
        got = _assign(inc["components"])
        assert got == want


class TestSignatureTransfer:
    def test_removed_signed_rep_still_finds_near_dup_of_survivor(self, spark):
        """Remove the SIGNED representative of a byte-identical group
        that has surviving copies, then fold in a near-dup of the
        surviving content: the pair must still be found, because
        transfer_orphaned_signatures handed the signature row to the
        surviving copy. A negative control shows the naive prune
        (anti-join only) misses the pair — the transfer is load-bearing."""
        from gnames_spark.operators.incremental import (
            remove_docs,
            transfer_orphaned_signatures,
        )

        v1 = generate_pages(spark, 160, seed=51).drop("html").cache()
        base = DedupPipeline(spark, CFG).run(v1)
        grp = (
            base["docs"]
            .groupBy("content_sha")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("rep"))
            .filter("n >= 2")
            .orderBy("content_sha")
            .limit(1)
            .collect()[0]
        )
        rep_id = grp["rep"]
        members = base["docs"].filter(F.col("content_sha") == grp["content_sha"])
        heir_id = members.filter(F.col("doc_id") != rep_id).agg(
            F.min("doc_id")
        ).collect()[0][0]
        # the early-exit cascade signed exactly the group minimum
        assert base["signatures"].filter(F.col("doc_id") == rep_id).count() == 1
        assert base["signatures"].filter(F.col("doc_id") == heir_id).count() == 0

        rm = spark.createDataFrame([(rep_id,)], "doc_id long")
        sigs_fixed = transfer_orphaned_signatures(base["docs"], base["signatures"], rm)
        assert sigs_fixed.filter(F.col("doc_id") == rep_id).count() == 0
        assert sigs_fixed.filter(F.col("doc_id") == heir_id).count() == 1
        assert sigs_fixed.count() == base["signatures"].count()

        surv_row = members.filter(F.col("doc_id") == heir_id).collect()[0]
        new_pages = spark.createDataFrame(
            [
                (
                    "https://recrawl.example/near-dup",
                    surv_row["warc_ts"],
                    surv_row["text"] + " three extra marker tokens",
                    surv_row["lang"],
                )
            ],
            "url string, warc_ts timestamp, text string, lang string",
        )
        pruned_assign = remove_docs(
            base["components"],
            base["verified_pairs"].filter("passed").select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            ),
            rm,
        )
        pruned_docs = base["docs"].join(F.broadcast(rm), "doc_id", "left_anti")

        def fold(sigs):
            inc = DedupPipeline(spark, CFG).run_incremental(
                new_pages,
                {"docs": pruned_docs, "signatures": sigs, "components": pruned_assign},
            )
            comp = {r["doc_id"]: r["component_id"] for r in inc["components"].collect()}
            new_id = new_pages.select(F.xxhash64("url")).collect()[0][0]
            return comp[new_id] == comp[heir_id]

        assert fold(sigs_fixed), "near-dup of surviving content must cluster with it"
        naive = base["signatures"].join(F.broadcast(rm), "doc_id", "left_anti")
        assert not fold(naive), "negative control: naive prune should miss the pair"


class TestSignatureTransferInvariants:
    @pytest.mark.parametrize("seed", [3, 17])
    def test_random_removals_preserve_store_invariants(self, spark, seed):
        """For ANY removal set: (a) no removed doc keeps a signature,
        (b) every content with >= 1 survivor keeps EXACTLY one
        signature row, attached to a surviving member — the original
        rep if it survived, else the min survivor, (c) contents with no
        survivor lose their row, (d) signature payloads are preserved
        (a transfer is a relabel, never a recompute)."""
        from gnames_spark.operators.incremental import transfer_orphaned_signatures

        rng = np.random.RandomState(seed)
        docs_rows, sig_rows = [], []
        sha_members: dict[int, list[int]] = {}
        doc_id = 100
        for sha_i in range(12):
            members = sorted(
                {doc_id + int(x) for x in rng.choice(50, size=rng.randint(1, 6))}
            )
            doc_id += 60
            sha_members[sha_i] = members
            for m in members:
                docs_rows.append((m, f"sha{sha_i}"))
            sig_rows.append((min(members), [sha_i * 10, sha_i * 10 + 1]))
        docs = spark.createDataFrame(docs_rows, "doc_id long, content_sha string")
        sigs = spark.createDataFrame(sig_rows, "doc_id long, bands array<long>")
        all_ids = [d for d, _ in docs_rows]
        rm_ids = sorted(rng.choice(all_ids, size=len(all_ids) // 3, replace=False))
        rm = spark.createDataFrame([(int(i),) for i in rm_ids], "doc_id long")

        out = {
            r["doc_id"]: list(r["bands"])
            for r in transfer_orphaned_signatures(docs, sigs, rm).collect()
        }
        rm_set = set(int(i) for i in rm_ids)
        assert not (set(out) & rm_set)  # (a)
        for sha_i, members in sha_members.items():
            survivors = [m for m in members if m not in rm_set]
            signed = [m for m in survivors if m in out]
            orig_rep = min(members)
            if not survivors:
                assert signed == []  # (c)
                continue
            expect = orig_rep if orig_rep not in rm_set else min(survivors)
            assert signed == [expect], (sha_i, survivors, signed)  # (b)
            assert out[expect] == [sha_i * 10, sha_i * 10 + 1]  # (d)


class TestMergeComponents:
    def _run(self, spark, old_edges, old_nodes, new_edges, new_nodes):
        base_edges = spark.createDataFrame(old_edges, "src long, dst long")
        from gnames_spark.operators.components import all_components, connected_components

        base_assign = all_components(
            spark.createDataFrame([(n,) for n in old_nodes], "doc_id long"),
            connected_components(base_edges, max_iterations=20),
        )
        merged = merge_components(
            base_assign,
            spark.createDataFrame(new_edges, "src long, dst long"),
            spark.createDataFrame([(n,) for n in new_nodes], "doc_id long"),
            max_iterations=20,
        )
        return {r["doc_id"]: r["component_id"] for r in merged.collect()}

    def test_matches_union_find(self, spark):
        rng = np.random.RandomState(11)
        old_nodes = list(range(100))
        old_edges = [
            (int(rng.choice(old_nodes)), int(rng.choice(old_nodes))) for _ in range(60)
        ]
        old_edges = [e for e in old_edges if e[0] != e[1]]
        new_nodes = list(range(100, 140))
        new_edges = []
        for _ in range(50):  # mix of new-new and new-old, >= 1 new endpoint
            u = int(rng.choice(new_nodes))
            v = int(rng.choice(new_nodes + old_nodes))
            if u != v:
                new_edges.append((u, v))
        got = self._run(spark, old_edges, old_nodes, new_edges, new_nodes)

        parent = {n: n for n in old_nodes + new_nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in old_edges + new_edges:
            parent[find(u)] = find(v)
        groups: dict[int, set[int]] = {}
        for n in old_nodes + new_nodes:
            groups.setdefault(find(n), set()).add(n)
        oracle = {n: min(m) for m in groups.values() for n in m}
        assert got == oracle

    def test_no_new_edges_keeps_base_untouched(self, spark):
        old_nodes = [0, 1, 2, 3]
        got = self._run(spark, [(0, 1)], old_nodes, [], [10, 11])
        assert got == {0: 0, 1: 0, 2: 2, 3: 3, 10: 10, 11: 11}

    def test_summary_maintenance_unit(self, spark):
        """merge_cluster_summary over a handcrafted merge: two old
        components collapse via a new bridge doc, one old component
        gains a member without changing id, one new singleton, one old
        component untouched."""
        from gnames_spark.operators.incremental import merge_cluster_summary

        base_summary = spark.createDataFrame(
            [(0, 3, 0), (10, 2, 10), (50, 4, 50), (70, 7, 70)],
            "component_id long, n_docs long, rep_doc long",
        )
        # 0 and 10 merge into 0 (bridge doc 100); 50 gains doc 101; 102 solo
        comp_map = spark.createDataFrame(
            [(0, 0), (10, 0), (100, 0), (50, 50), (101, 50)],
            "_node long, _super long",
        )
        new_assign = spark.createDataFrame(
            [(100, 0), (101, 50), (102, 102)],
            "doc_id long, component_id long",
        )
        got = {
            (r["component_id"], r["n_docs"], r["rep_doc"])
            for r in merge_cluster_summary(base_summary, comp_map, new_assign).collect()
        }
        assert got == {(0, 6, 0), (50, 5, 50), (102, 1, 102), (70, 7, 70)}

    def test_new_edge_merges_two_base_components(self, spark):
        """A new doc bridging two old components collapses them to the
        global min — the case where the contraction must relabel BASE
        rows, not just the increment."""
        old_nodes = [0, 1, 10, 11]
        got = self._run(spark, [(0, 1), (10, 11)], old_nodes, [(100, 1), (100, 11)], [100])
        assert got == {0: 0, 1: 0, 10: 0, 11: 0, 100: 0}


class TestIncrementalEmbeddings:
    """The embedding modality's one-sided fold-in equals a fresh run
    over old ∪ new with the combined embedding table."""

    def _emb_for(self, spark, pages, twin_pairs=3, seed=31):
        """Random embeddings per doc, plus `twin_pairs` planted
        near-identical pairs chosen to straddle the base/increment url
        split (pmod 4 == 0)."""
        ids = [r[0] for r in pages.select(F.xxhash64("url").alias("i")).collect()]
        inc = {i for i in ids if i % 4 == 0}
        base = [i for i in ids if i not in inc]
        inc = sorted(inc)
        rng = np.random.RandomState(seed)
        vec = {i: rng.standard_normal(12) for i in ids}
        for j in range(twin_pairs):
            a, b = base[j], inc[j]
            vec[b] = vec[a] + rng.standard_normal(12) * 0.01
        rows = [(int(i), [float(x) for x in v]) for i, v in vec.items()]
        df = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
        twins = [(min(base[j], inc[j]), max(base[j], inc[j])) for j in range(twin_pairs)]
        return df, twins

    def test_fold_in_equals_fresh_run_with_embeddings(self, spark, split_pages):
        pages, base_pages, inc_pages = split_pages
        emb_all, twins = self._emb_for(spark, pages)
        base_ids = base_pages.select(F.xxhash64("url").alias("doc_id"))
        emb_base = emb_all.join(base_ids, "doc_id", "left_semi")
        emb_new = emb_all.join(base_ids, "doc_id", "left_anti")

        fresh = DedupPipeline(spark, CFG).run(pages, embeddings=emb_all)
        base = DedupPipeline(spark, CFG).run(base_pages, embeddings=emb_base)
        inc = DedupPipeline(spark, CFG).run_incremental(
            inc_pages, base, new_embeddings=emb_new, base_embeddings=emb_base
        )
        assert _assign(inc["components"]) == _assign(fresh["components"])
        # the planted cross-split twins actually merged via the fold-in
        comp = dict(_assign(inc["components"]))
        for a, b in twins:
            assert comp[a] == comp[b], (a, b)
        # and the edge is embedding-method (text differs)
        ver = {
            (r["doc_a"], r["doc_b"]): r["method"]
            for r in inc["verified_pairs"].filter("passed").collect()
        }
        assert any(ver.get(t) == "embedding" for t in twins)

    def test_first_embeddings_on_increment_only(self, spark, split_pages):
        """base_embeddings=None: new-vs-new embedding pairs still form
        (the branch degrades to the batch form over the increment)."""
        _, base_pages, inc_pages = split_pages
        rng = np.random.RandomState(7)
        ids = [r[0] for r in inc_pages.select(F.xxhash64("url").alias("i")).collect()]
        rows = [(int(i), [float(x) for x in rng.standard_normal(12)]) for i in ids]
        rows[1] = (rows[1][0], [v + 0.001 for v in rows[0][1]])
        emb_new = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
        base = DedupPipeline(spark, CFG).run(base_pages)
        inc = DedupPipeline(spark, CFG).run_incremental(
            inc_pages, base, new_embeddings=emb_new
        )
        comp = dict(_assign(inc["components"]))
        assert comp[rows[0][0]] == comp[rows[1][0]]


class TestRemovalCLI:
    def test_base_increment_remove_matches_fresh_run(self, spark, tmp_path):
        """The spark-submit surface for the full corpus lifecycle:
        base run -> incremental promote (which now keeps the standing
        verified_pairs CUMULATIVE) -> --remove of a slice. The standing
        assignment must equal a fresh run over (all - removed): removal
        re-clusters ONLY affected components, over the cumulative edge
        set."""
        from gnames_spark.checkpoint import ParquetCheckpointIO
        from gnames_spark.cli import main

        pages = generate_pages(spark, 180, seed=37).cache()
        part = F.pmod(F.xxhash64("url"), F.lit(3))
        base_p = str(tmp_path / "base.parquet")
        inc_p = str(tmp_path / "inc.parquet")
        pages.filter(part != 0).write.parquet(base_p)
        pages.filter(part == 0).write.parquet(inc_p)
        # remove every 7th doc of the full corpus
        rm_ids = pages.select(F.xxhash64("url").alias("doc_id")).filter(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0
        )
        rm_p = str(tmp_path / "rm.parquet")
        rm_ids.write.parquet(rm_p)

        ckpt = str(tmp_path / "ckpt")
        caps = ["--bucket-cap", "100000", "--anchor-cap", "100000",
                "--shuffle-partitions", "8"]
        assert main(["--input", base_p, "--output", str(tmp_path / "o0"),
                     "--checkpoint-dir", ckpt] + caps) == 0
        assert main(["--input", inc_p, "--output", str(tmp_path / "o1"),
                     "--checkpoint-dir", ckpt, "--incremental",
                     "--batch-id", "b1"] + caps) == 0
        assert main(["--input", rm_p, "--output", str(tmp_path / "o2"),
                     "--checkpoint-dir", ckpt, "--remove"] + caps) == 0

        cfg = DedupConfig(shuffle_partitions=8, bucket_cap=100_000, anchor_cap=100_000)
        io = ParquetCheckpointIO(ckpt, cfg.config_hash())
        got = _assign(io.read(spark, "components"))
        rm_set = {r["doc_id"] for r in rm_ids.collect()}
        keep = pages.filter(
            F.pmod(F.xxhash64("url"), F.lit(7)) != 0
        )
        want = _assign(DedupPipeline(spark, cfg).run(keep)["components"])
        assert got == want
        # standing docs shrank exactly; no removed id keeps a signature
        assert io.read(spark, "docs").count() == 180 - len(rm_set)
        sig_ids = {r["doc_id"] for r in io.read(spark, "signatures").select("doc_id").collect()}
        assert not (sig_ids & rm_set)
        # idempotent: re-running the same removal is a no-op
        assert main(["--input", rm_p, "--output", str(tmp_path / "o3"),
                     "--checkpoint-dir", ckpt, "--remove"] + caps) == 0
        assert _assign(io.read(spark, "components")) == want


class TestRemovalCrashSafety:
    def _base(self, spark, tmp_path):
        from gnames_spark.checkpoint import ParquetCheckpointIO
        from gnames_spark.cli import main

        pages = generate_pages(spark, 120, seed=41).cache()
        inp = str(tmp_path / "pages.parquet")
        pages.write.parquet(inp)
        ckpt = str(tmp_path / "ckpt")
        caps = ["--bucket-cap", "100000", "--anchor-cap", "100000",
                "--shuffle-partitions", "8"]
        assert main(["--input", inp, "--output", str(tmp_path / "o0"),
                     "--checkpoint-dir", ckpt] + caps) == 0
        cfg = DedupConfig(shuffle_partitions=8, bucket_cap=100_000, anchor_cap=100_000)
        io = ParquetCheckpointIO(ckpt, cfg.config_hash())
        rm_ids = pages.select(F.xxhash64("url").alias("doc_id")).limit(10)
        rm_p = str(tmp_path / "rm.parquet")
        rm_ids.write.parquet(rm_p)
        return io, ckpt, rm_p, caps, pages

    def test_refuses_crashed_increment_state(self, spark, tmp_path):
        """docs > components manifest rows = a crashed INCREMENT promote;
        removing on that state would compound the incoherence — refused
        with exit 2, store untouched."""
        from gnames_spark.cli import main

        io, ckpt, rm_p, caps, pages = self._base(spark, tmp_path)
        # simulate the crash window: append phantom rows to docs only
        docs = io.read(spark, "docs")
        phantom = docs.limit(5).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10**15)
        )
        io.write(docs.unionByName(phantom).localCheckpoint(eager=True), "docs")
        assert io.manifest_rows("docs") > io.manifest_rows("components")
        n_comp_before = io.read(spark, "components").count()
        assert main(["--input", rm_p, "--output", str(tmp_path / "or"),
                     "--checkpoint-dir", ckpt, "--remove"] + caps) == 2
        assert io.read(spark, "components").count() == n_comp_before

    def test_heals_crashed_removal_state(self, spark, tmp_path):
        """docs < components manifest rows = a removal that crashed after
        the docs rewrite; re-running the SAME removal completes it and
        the store ends consistent with a clean removal."""
        from gnames_spark.cli import main

        io, ckpt, rm_p, caps, pages = self._base(spark, tmp_path)
        rm_set = {r["doc_id"] for r in spark.read.parquet(rm_p).collect()}
        # clean removal on a copy of expectations: run it once fully
        assert main(["--input", rm_p, "--output", str(tmp_path / "o1"),
                     "--checkpoint-dir", ckpt, "--remove"] + caps) == 0
        want = _assign(io.read(spark, "components"))
        # now simulate the crash window on a FRESH store: docs rewritten,
        # components not (signatures/verified already done per the write
        # order, so rewriting docs alone is the deepest crash point)
        ckpt2 = str(tmp_path / "ckpt2")
        inp = str(tmp_path / "pages.parquet")
        assert main(["--input", inp, "--output", str(tmp_path / "o2"),
                     "--checkpoint-dir", ckpt2] + caps) == 0
        from gnames_spark.checkpoint import ParquetCheckpointIO
        cfg = DedupConfig(shuffle_partitions=8, bucket_cap=100_000, anchor_cap=100_000)
        io2 = ParquetCheckpointIO(ckpt2, cfg.config_hash())
        docs2 = io2.read(spark, "docs")
        rm_df = spark.read.parquet(rm_p)
        io2.write(
            docs2.join(F.broadcast(rm_df), "doc_id", "left_anti")
            .localCheckpoint(eager=True),
            "docs",
        )
        assert io2.manifest_rows("docs") < io2.manifest_rows("components")
        # healing re-run of the SAME removal is allowed through and lands
        # the same final assignment as the clean removal
        assert main(["--input", rm_p, "--output", str(tmp_path / "o3"),
                     "--checkpoint-dir", ckpt2, "--remove"] + caps) == 0
        assert _assign(io2.read(spark, "components")) == want
        assert io2.manifest_rows("docs") == io2.manifest_rows("components")
