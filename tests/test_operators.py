"""Operator tests on a real SparkSession — golden cluster assignments and
the recall gate, modeled on the reference's lexgroup fixture tests
(`/root/reference/pkg/ent/lexgroup/lexgroup_test.go:15-99`: stored
corpus → assert exact group structure)."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import GROUP_SLOTS, expected_dup_groups, generate_pages, truth_role
from gnames_spark.functions.shingles import shingle_set
from gnames_spark.functions.sigkernel import (
    make_anchor_udf,
    make_shingle_set_udf,
    make_signature_udf,
)
from gnames_spark.functions.simhash import make_fnv_simhash_udf
from gnames_spark.operators import components
from gnames_spark.operators.components import all_components, connected_components
from gnames_spark.operators.exact import exact_dup_edges, exact_groups, with_content_sha
from gnames_spark.operators.lsh import lsh_candidates
from gnames_spark.operators.representatives import cluster_summary, select_representatives
from gnames_spark.operators.scoring import best_match_per_doc, pair_score
from gnames_spark.operators.simhash_join import simhash_candidates
from gnames_spark.operators.suffix import (
    anchor_pairs_from_anchors,
    has_common_substring,
    lcs_length_sa,
    substring_verify,
)
from gnames_spark.operators.verify import (
    containment_pairs,
    exact_jaccard_pairs,
    verify_candidates,
    verify_pairs,
)

CFG = DedupConfig(shuffle_partitions=8, bucket_cap=300)
N_DOCS = 400
SEED = 7


@pytest.fixture(scope="module")
def docs(spark):
    pages = generate_pages(spark, N_DOCS, seed=SEED)
    d = (
        pages.select(
            F.xxhash64("url").alias("doc_id"), "url", "text", "lang"
        )
        .withColumn("shingle_set", shingle_set("text", CFG.shingle_k))
    )
    return d.cache()


def _kernel_bands(docs):
    """(doc_id, bands) from the fused signature kernel, non-empty docs."""
    sig = make_signature_udf(CFG)
    return (
        docs.select("doc_id", sig(F.col("text")).alias("s"))
        .filter(F.col("s.n_shingles") > 0)
        .select("doc_id", "s.bands")
    )


@pytest.fixture(scope="module")
def brute_pairs(docs):
    """Brute-force all-pairs Jaccard oracle (FIXTURES.md §5)."""
    rows = docs.select("doc_id", "shingle_set").collect()
    sets = {r["doc_id"]: frozenset(r["shingle_set"]) for r in rows}
    out = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sets.items(), 2):
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter:
            j = inter / len(sa | sb)
            if j >= 0.5:
                key = (min(ia, ib), max(ia, ib))
                out[key] = j
    return out


@pytest.fixture(scope="module")
def brute_pairs_containment(docs):
    """Brute-force all-pairs containment oracle (min-denominator)."""
    rows = docs.select("doc_id", "shingle_set").collect()
    sets = {r["doc_id"]: frozenset(r["shingle_set"]) for r in rows}
    out = {}
    for (ia, sa), (ib, sb) in itertools.combinations(sets.items(), 2):
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter:
            c = inter / min(len(sa), len(sb))
            if c >= 0.5:
                out[(min(ia, ib), max(ia, ib))] = c
    return out


class TestExact:
    def test_exact_groups_match_truth(self, spark, docs):
        sha = with_content_sha(docs)
        groups = exact_groups(sha)
        dup_groups = groups.filter(F.col("n_docs") > 1).count()
        # every planted exact group (5 identical texts) collapses to one sha
        n_exact_truth = sum(
            1 for g in range(N_DOCS // GROUP_SLOTS) if truth_role(SEED, g * GROUP_SLOTS) == "exact"
        )
        assert dup_groups >= n_exact_truth
        edges = exact_dup_edges(sha)
        assert edges.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0

    def test_star_edges_connect_all_copies(self, spark, docs):
        sha = with_content_sha(docs)
        edges = exact_dup_edges(sha)
        n_members = sha.groupBy("content_sha").count().filter("count > 1").agg(F.sum("count")).collect()[0][0]
        n_groups = sha.groupBy("content_sha").count().filter("count > 1").count()
        assert edges.count() == (n_members or 0) - n_groups


class TestExactSkew:
    """A hot byte-identical page (parked-domain boilerplate, 10^7 copies
    in a real crawl) must never pin one task: the exact screen is
    groupBy + join (AQE-splittable), never Window.partitionBy(sha)."""

    def _mega(self, spark, n=20000):
        from pyspark.sql import functions as F

        hot = spark.range(n).select(
            F.col("id").alias("doc_id"), F.lit("parked domain page").alias("text")
        )
        tail = spark.range(100000, 100020).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("unique "), F.col("id").cast("string")).alias("text"),
        )
        return with_content_sha(hot.unionByName(tail))

    def test_edges_no_window_megagroup(self, spark):
        from gnames_spark.plans.audit import physical_plan

        sha = self._mega(spark)
        edges = exact_dup_edges(sha)
        assert "Window" not in physical_plan(edges)
        assert edges.count() == 20000 - 1
        got = edges.agg(F.min("doc_a"), F.max("doc_a"), F.min("doc_b")).collect()[0]
        assert got[0] == 0 and got[1] == 0 and got[2] == 1

    def test_distinct_content_no_window_megagroup(self, spark):
        from gnames_spark.operators.exact import distinct_content
        from gnames_spark.plans.audit import physical_plan

        sha = self._mega(spark)
        reps = distinct_content(sha)
        assert "Window" not in physical_plan(reps)
        assert reps.count() == 1 + 20
        # representative of the hot group is the min doc_id, row intact
        hot = reps.filter(F.col("text") == "parked domain page").collect()
        assert len(hot) == 1 and hot[0]["doc_id"] == 0
        assert set(reps.columns) == {"doc_id", "text", "content_sha"}


class TestLSHRecall:
    def test_recall_gate(self, spark, docs, brute_pairs):
        """Dup-pair recall >= 0.99 vs brute-force oracle at tau (BASELINE gate)."""
        sigs = _kernel_bands(docs)
        cands, overflow = lsh_candidates(sigs, CFG)
        verified = verify_pairs(cands, docs, CFG, set_col="shingle_set")
        found = {
            (r["doc_a"], r["doc_b"])
            for r in verified.filter("passed").select("doc_a", "doc_b").collect()
        }
        truth = {k for k, j in brute_pairs.items() if j >= CFG.jaccard_threshold}
        assert truth, "corpus must plant pairs above threshold"
        missed = truth - found
        recall = 1 - len(missed) / len(truth)
        assert recall >= 0.99, f"recall {recall}: missed {len(missed)}/{len(truth)}"
        # verified jaccards are exact: spot-check against the oracle
        for r in verified.filter("passed").limit(20).collect():
            key = (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
            assert key in brute_pairs
            assert abs(r["jaccard"] - brute_pairs[key]) < 1e-9

    def test_no_false_positives_after_verify(self, spark, docs, brute_pairs):
        sigs = _kernel_bands(docs)
        cands, _ = lsh_candidates(sigs, CFG)
        verified = verify_pairs(cands, docs, CFG, set_col="shingle_set")
        for r in verified.filter("passed").collect():
            key = (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
            assert brute_pairs.get(key, 0) >= CFG.jaccard_threshold


class TestExactJaccardJoin:
    def test_matches_brute_force_exactly(self, spark, docs, brute_pairs):
        """The posting-list exact algorithm == brute force (same pairs, same values)."""
        got = {
            (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])): r["jaccard"]
            for r in exact_jaccard_pairs(docs, 0.5, set_col="shingle_set").collect()
        }
        truth = {k: j for k, j in brute_pairs.items() if j >= 0.5}
        assert set(got) == set(truth)
        for k in truth:
            assert abs(got[k] - truth[k]) < 1e-12


class TestContainment:
    def test_inclusion_found_by_containment_missed_by_jaccard(self, spark):
        """The quote-inclusion dup class: a short doc fully contained in
        a 10x-longer one has containment 1.0 but Jaccard ~ |A|/|B| —
        below any dup threshold. containment_pairs finds it; the
        Jaccard detector (correctly, per its semantics) does not."""
        small = [f"s{i}" for i in range(20)]
        big = small + [f"b{i}" for i in range(200)]
        rows = [
            (1, small),
            (2, big),
            (3, [f"x{i}" for i in range(50)]),  # unrelated
        ]
        docs = spark.createDataFrame(rows, "doc_id long, shingle_set array<string>")
        cont = {
            (r["doc_a"], r["doc_b"]): r["containment"]
            for r in containment_pairs(docs, 0.9, set_col="shingle_set").collect()
        }
        assert cont == {(1, 2): 1.0}
        jac = {
            (r["doc_a"], r["doc_b"])
            for r in exact_jaccard_pairs(docs, 0.8, set_col="shingle_set").collect()
        }
        assert (1, 2) not in jac

    def test_matches_brute_force(self, spark, docs, brute_pairs_containment):
        got = {
            (r["doc_a"], r["doc_b"]): r["containment"]
            for r in containment_pairs(docs, 0.5, set_col="shingle_set").collect()
        }
        truth = {k: c for k, c in brute_pairs_containment.items() if c >= 0.5}
        assert set(got) == set(truth)
        for k in truth:
            assert abs(got[k] - truth[k]) < 1e-12


class TestSimHash:
    def test_candidates_include_tight_near_dups(self, spark, docs):
        fp = make_fnv_simhash_udf()
        sims = docs.select("doc_id", fp(F.col("text")).alias("simhash")).filter(
            F.length("text") > 0
        )
        pairs, _ = simhash_candidates(sims, CFG)
        # exact copies have hamming 0 → must all be found
        sha_edges = exact_dup_edges(with_content_sha(docs))
        exact_pairs = {(r["doc_a"], r["doc_b"]) for r in sha_edges.collect()}
        found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        # star edges are (min, member); simhash finds all pairs incl. those
        missing = {p for p in exact_pairs if p not in found}
        assert not missing
        assert pairs.filter("hamming > {}".format(CFG.hamming_d)).count() == 0


class TestComponents:
    def _cc(self, spark, edges):
        df = spark.createDataFrame(edges, ["src", "dst"])
        rows = connected_components(df, max_iterations=20).collect()
        return {r["doc_id"]: r["component_id"] for r in rows}

    def test_chain(self, spark):
        got = self._cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}

    def test_two_cliques_and_bridge(self, spark):
        cl1 = [(1, 2), (2, 3), (1, 3)]
        cl2 = [(10, 11), (11, 12), (10, 12)]
        got = self._cc(spark, cl1 + cl2)
        assert {got[1], got[2], got[3]} == {1}
        assert {got[10], got[11], got[12]} == {10}
        got2 = self._cc(spark, cl1 + cl2 + [(3, 10)])
        assert set(got2.values()) == {1}

    def test_star_and_random_graph(self, spark):
        star = [(100, i) for i in range(1, 50)]
        got = self._cc(spark, star)
        assert set(got.values()) == {1}
        rng = np.random.RandomState(3)
        nodes = list(range(200, 260))
        edges = [(int(rng.choice(nodes)), int(rng.choice(nodes))) for _ in range(80)]
        edges = [e for e in edges if e[0] != e[1]]
        got = self._cc(spark, edges)
        # oracle: union-find
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        oracle = {}
        for n in {x for e in edges for x in e}:
            r = find(n)
            oracle.setdefault(r, set()).add(n)
        comp_of = {n: min(m) for m in oracle.values() for n in m}
        assert got == comp_of

    def test_salted_cc_identical_on_megacluster(self, spark):
        """Salting the star-join hot keys (north_rule) must not change
        assignments: a 2,000-member megacluster + side clusters resolve
        identically with salt_buckets on and off, and match the
        union-find oracle component minima."""
        mega = [(1, i) for i in range(2, 2001)]  # hot hub node
        side = [(5000, 5001), (5001, 5002), (7000, 7001)]
        df = spark.createDataFrame(mega + side, ["src", "dst"])
        plain = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(df, max_iterations=20).collect()
        }
        salted = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(df, max_iterations=20, salt_buckets=4).collect()
        }
        assert salted == plain
        assert all(salted[n] == 1 for n in range(1, 2001))
        assert salted[5002] == 5000 and salted[7001] == 7000

    def test_all_components_attaches_singletons(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
        edges = spark.createDataFrame([(0, 1), (2, 3)], ["src", "dst"])
        assign = connected_components(edges)
        full = {r["doc_id"]: r["component_id"] for r in all_components(docs, assign).collect()}
        assert full == {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 5, 6: 6, 7: 7}


class TestComponentsStarLoop(TestComponents):
    """TestComponents again with the local finish off: every graph runs
    the large-star/small-star loop, salting included."""

    @pytest.fixture(autouse=True)
    def _star_loop(self, monkeypatch):
        monkeypatch.setattr(components, "LOCAL_FINISH_MAX_EDGES", -1)


class TestLocalFinishEqualsStarLoop:
    """Property: below the bound, the one-task union-find gives exactly
    the star loop's assignments (and column types)."""

    @staticmethod
    def _graphs():
        rng = np.random.RandomState(11)
        yield "empty", []
        hub = [(5, leaf) for leaf in range(10_000, 12_000)]  # 2,000-leaf hub
        yield "hub", hub + [(11_999, 12_500), (12_500, 12_501)]
        for k, (n_nodes, n_edges) in enumerate([(40, 25), (60, 90), (30, 200)]):
            e = [(int(a), int(b)) for a, b in rng.randint(0, n_nodes, size=(n_edges, 2))]
            e += e[: n_edges // 4]                       # duplicate edges
            e += [(i, i) for i in range(0, n_nodes, 7)]  # self-loops
            e += [(b, a) for a, b in e[:5]]              # reversed duplicates
            yield f"random{k}", [(a + 1000 * k, b + 1000 * k) for a, b in e]

    def test_local_finish_equals_star_loop(self, spark, monkeypatch):
        for name, edges in self._graphs():
            df = spark.createDataFrame(edges, "src long, dst long")
            local = connected_components(df, max_iterations=30)
            assert local.schema.simpleString() == "struct<doc_id:bigint,component_id:bigint>"
            got = {r["doc_id"]: r["component_id"] for r in local.collect()}
            with monkeypatch.context() as m:
                m.setattr(components, "LOCAL_FINISH_MAX_EDGES", -1)
                star = connected_components(df, max_iterations=30)
                want = {r["doc_id"]: r["component_id"] for r in star.collect()}
            assert got == want, name
            # self-loop-only nodes are absent in both, like the loop's output
            assert set(got) == {x for a, b in edges if a != b for x in (a, b)}, name

    def test_int_ids_keep_their_type(self, spark):
        df = spark.createDataFrame([(3, 1), (1, 2), (7, 8)], "src int, dst int")
        out = connected_components(df)
        assert out.schema.simpleString() == "struct<doc_id:int,component_id:int>"
        assert {r["doc_id"]: r["component_id"] for r in out.collect()} == {
            1: 1, 2: 1, 3: 1, 7: 7, 8: 7
        }


class TestEndToEndClusters:
    def test_golden_cluster_assignments(self, spark, docs, brute_pairs):
        """Pipeline components == union-find over ground-truth edges.

        Truth edges: byte-identical texts + brute-force Jaccard >= tau.
        (Near-dup slots planted at J≈0.75 are intentionally BELOW the
        0.8 threshold — they must NOT merge; this pins the reference-
        style behavior of documented cutoffs, SURVEY §4 P4.)
        """
        sha = with_content_sha(docs)
        e1 = exact_dup_edges(sha).select("doc_a", "doc_b")
        sigs = _kernel_bands(docs)
        cands, _ = lsh_candidates(sigs, CFG)
        e2 = (
            verify_pairs(cands, docs, CFG, set_col="shingle_set")
            .filter("passed")
            .select("doc_a", "doc_b")
        )
        edges = e1.union(e2).withColumnRenamed("doc_a", "src").withColumnRenamed("doc_b", "dst")
        assign = all_components(docs, connected_components(edges))
        comp = {r["doc_id"]: r["component_id"] for r in assign.collect()}

        # oracle union-find over truth edges
        truth_edges = [k for k, j in brute_pairs.items() if j >= CFG.jaccard_threshold]
        sha_rows = with_content_sha(docs).select("doc_id", "content_sha").collect()
        by_sha = {}
        for r in sha_rows:
            by_sha.setdefault(r["content_sha"], []).append(r["doc_id"])
        for members in by_sha.values():
            truth_edges += [(members[0], m) for m in members[1:]]
        parent = {d: d for d in comp}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in truth_edges:
            parent[find(u)] = find(v)
        oracle_groups = {}
        for d in comp:
            oracle_groups.setdefault(find(d), set()).add(d)
        oracle = {d: min(m) for m in oracle_groups.values() for d in m}
        assert comp == oracle

    def test_representatives(self, spark, docs):
        assign = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (9, 9)], ["doc_id", "component_id"]
        )
        reps = select_representatives(assign)
        rows = {r["doc_id"]: (r["is_representative"], r["rep_doc"]) for r in reps.collect()}
        assert rows[1] == (True, 1) and rows[2] == (False, 1) and rows[9] == (True, 9)
        summ = {r["component_id"]: r["n_docs"] for r in cluster_summary(assign).collect()}
        assert summ == {1: 3, 9: 1}


class TestSuffix:
    @staticmethod
    def _anchor_pairs(docs):
        """The pipeline's anchor branch: winnowing anchors → capped
        posting engine → pairs sharing >= min_shared_anchors."""
        anchors = docs.select(
            "doc_id", F.explode(make_anchor_udf(CFG)(F.col("text"))).alias("anchor")
        )
        return anchor_pairs_from_anchors(anchors, CFG)[0]

    def test_lcs_unit(self):
        assert lcs_length_sa("abcdef", "zzabczz") == 3
        assert lcs_length_sa("abc", "xyz") == 0
        assert lcs_length_sa("", "x") == 0
        assert lcs_length_sa("same", "same") == 4
        long = "x" * 100 + "SHARED-SEGMENT" * 50 + "y" * 100
        other = "a" * 37 + "SHARED-SEGMENT" * 50 + "b" * 11
        assert lcs_length_sa(long, other) == 14 * 50

    def test_has_common_substring(self):
        a = "unique-left " + "common words here " * 40 + "unique-right"
        b = "other start " + "common words here " * 40 + "other end"
        assert has_common_substring(a, b, 500)
        assert not has_common_substring("abc " * 200, "xyz " * 200, 50)

    def test_substring_pipeline(self, spark, docs):
        """Planted substring families are caught by anchors + LCS verify."""
        pairs = self._anchor_pairs(docs)
        verified = substring_verify(pairs, docs, CFG)
        hits = verified.filter("passed")
        # docs sharing >=512-char substring: group role 'substring'
        id_of = {}
        for r in docs.select("doc_id", "url").collect():
            idx = int(r["url"].rsplit("/", 1)[1])
            id_of[idx] = r["doc_id"]
        found = {(r["doc_a"], r["doc_b"]) for r in hits.collect()}
        found |= {(b, a) for a, b in found}
        checked = 0
        for g, members in expected_dup_groups(SEED, N_DOCS).items():
            if truth_role(SEED, members[0]) != "substring":
                continue
            # slots 1..4 embed base's prefix; each must pair with slot 0
            # or with a sibling (all share the same long segment)
            ids = [id_of[m] for m in members]
            for x in ids[1:]:
                assert any((x, y) in found for y in ids if y != x), (g, x)
                checked += 1
        assert checked > 3

    def test_suffix_array_kernel_matches_rolling(self, spark, docs):
        """The generalized-suffix-array LCS length passes exactly the
        same pairs as the probe-and-extend check on the planted corpus."""
        pairs = self._anchor_pairs(docs)
        probed = {
            (r["doc_a"], r["doc_b"])
            for r in substring_verify(pairs, docs, CFG).filter("passed").collect()
        }
        ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
        tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
        sa = {
            (r["doc_a"], r["doc_b"])
            for r in pairs.join(ta, "doc_a").join(tb, "doc_b").collect()
            if lcs_length_sa(r["ta"], r["tb"]) >= CFG.min_substring_len
        }
        assert sa == probed and probed


class TestVerifyCandidates:
    """The one-crossing verifier equals its oracles: verify_pairs over
    make_shingle_set_udf sets, then substring_verify on the routed
    Jaccard failures (a pass there → method 'suffix', jaccard kept)."""

    @staticmethod
    def _corpus():
        rng = np.random.RandomState(3)

        def words(n):
            return " ".join(f"w{v}" for v in rng.randint(0, 100_000, n))

        shared = words(120)  # ~840 chars, well over min_substring_len
        near = words(150)
        edge = words(100).split()
        uni = "\xa0".join(["İstanbul", "straße", "中文　文本"] * 30 + [words(40)])
        texts = {
            1: near,
            2: near.replace(near.split()[7], "changed", 1),  # J ≥ 0.8
            3: words(200) + " " + shared,
            4: shared + " " + words(200),
            5: words(80) + " " + shared + " " + words(80),
            6: words(200),
            7: words(200),
            8: "two tokens",  # fewer than shingle_k tokens
            9: uni,
            10: uni.replace("straße", "strasse", 1),
            11: words(300) + "　" + uni,
            12: "",
            13: "   \t\xa0　   ",
            14: None,
            15: " ".join(edge),
            # two far-apart words changed: 86 of 106 shingles shared, J ≈ 0.81
            16: " ".join(edge[:20] + ["x1"] + edge[21:60] + ["x2"] + edge[61:]),
        }
        # (doc_a, doc_b, method, anchor_overflow)
        pairs = [
            (1, 2, "lsh", False),      # Jaccard pass
            (3, 4, "anchor", False),   # routed, LCS pass
            (4, 5, "anchor", True),    # routed, LCS pass
            (6, 7, "anchor", False),   # routed, LCS fail
            (3, 5, "lsh", False),      # unrouted J-fail sharing a long run
            (3, 6, "lsh", True),       # routed by the overflow flag, LCS fail
            (5, 6, "lsh", True),       # routed by the overflow flag, LCS fail
            (4, 11, "lsh", True),      # routed by the overflow flag
            (15, 16, "lsh", False),    # Jaccard pass just above the threshold
            (9, 10, "lsh", False),     # unicode near-dup
            (9, 11, "anchor", False),  # unicode, routed, LCS pass
            (8, 1, "anchor", False),
            (8, 12, "lsh", False),
            (12, 13, "anchor", False),
            (13, 14, "anchor", True),
            (14, 1, "lsh", False),
        ]
        # doc 1 sits in many pairs, so its rows span several Arrow batches
        pairs += [(1, d, "anchor" if d % 2 else "lsh", d % 3 == 0) for d in range(3, 17)]
        return list(texts.items()), pairs

    def test_matches_oracles_across_arrow_batches(self, spark):
        texts, pairs = self._corpus()
        docs = spark.createDataFrame(texts, "doc_id long, text string").repartition(3)
        cands = spark.createDataFrame(
            pairs, "doc_a long, doc_b long, method string, anchor_overflow boolean"
        ).repartition(2)
        route = (F.col("method") == "anchor") | F.col("anchor_overflow")

        sets = docs.select("doc_id", make_shingle_set_udf(CFG)(F.col("text")).alias("shingle_set"))
        jac = verify_pairs(cands, sets, CFG).collect()
        routed = {
            (r["doc_a"], r["doc_b"])
            for r in jac if not r["passed"] and (r["method"] == "anchor" or r["anchor_overflow"])
        }
        lcs = {
            (r["doc_a"], r["doc_b"])
            for r in substring_verify(
                spark.createDataFrame(sorted(routed), "doc_a long, doc_b long"), docs, CFG
            ).filter("passed").collect()
        }
        plain = {(r["doc_a"], r["doc_b"], r["method"], r["jaccard"], r["passed"]) for r in jac}
        expected = {
            (a, b, "suffix", j, True) if (a, b) in lcs else (a, b, m, j, p)
            for a, b, m, j, p in plain
        }
        # every case the kernel branches on is present
        assert len(expected) == len(pairs)
        assert any(p and m != "suffix" and j < 0.85 for _, _, m, j, p in expected)
        assert {(3, 4), (4, 5), (9, 11)} <= lcs and routed - lcs
        # (3, 5) fails Jaccard and shares a long run, but is not routed
        text = dict(texts)
        assert has_common_substring(text[3], text[5], CFG.min_substring_len)
        assert (3, 5) not in routed and not any(p for a, b, _, _, p in plain if (a, b) == (3, 5))

        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "3")
        try:
            cols = ("doc_a", "doc_b", "method", "jaccard", "passed")
            got = {tuple(r[c] for c in cols)
                   for r in verify_candidates(cands, docs, CFG, route=route).collect()}
            unrouted = {tuple(r[c] for c in cols)
                        for r in verify_candidates(cands, docs, CFG).collect()}
        finally:
            spark.conf.set(key, old)
        assert got == expected
        assert unrouted == plain


class TestScoring:
    def test_pack_order(self, spark):
        df = spark.createDataFrame(
            [
                (1, 2, "exact", 1.0, None),
                (1, 3, "lsh", 0.95, None),
                (1, 4, "simhash", 0.0, 2),
                (1, 5, "lsh", 0.85, None),
            ],
            ["doc_a", "doc_b", "method", "jaccard", "hamming"],
        )
        scored = df.withColumn("score", pair_score())
        rows = {r["doc_b"]: r["score"] for r in scored.collect()}
        assert rows[2] > rows[3] > rows[5] > rows[4]
        best = best_match_per_doc(scored)
        assert [r["doc_b"] for r in best.collect()] == [2]

    def test_ties_kept(self, spark):
        df = spark.createDataFrame(
            [(1, 2, "lsh", 0.9, None), (1, 3, "lsh", 0.9, None), (1, 4, "lsh", 0.5, None)],
            "doc_a long, doc_b long, method string, jaccard double, hamming int",
        )
        best = best_match_per_doc(df.withColumn("score", pair_score()))
        assert sorted(r["doc_b"] for r in best.collect()) == [2, 3]


class TestRepresentativesSkew:
    def test_megacluster_no_window_single_task(self, spark):
        """One synthetic megacluster: rep selection must be a map-side
        combinable agg + join, never a row_number window that sorts the
        whole component in one task."""
        from gnames_spark.plans.audit import physical_plan

        n = 20000
        rows = [(i, 0) for i in range(n)] + [(100000 + i, 100000 + i) for i in range(20)]
        assign = spark.createDataFrame(rows, "doc_id long, component_id long")
        reps = select_representatives(assign)
        assert "Window" not in physical_plan(reps)
        got = reps.filter("component_id = 0").agg(
            F.min("rep_doc"), F.max("rep_doc"), F.sum(F.col("is_representative").cast("int"))
        ).collect()[0]
        assert got[0] == 0 and got[1] == 0 and got[2] == 1

    def test_custom_order_cols(self, spark):
        assign = spark.createDataFrame(
            [(1, 1, 0.5), (2, 1, 0.9), (3, 1, 0.9)],
            "doc_id long, component_id long, quality double",
        )
        reps = select_representatives(assign, order_cols=[-F.col("quality")])
        rows = {r["doc_id"]: r["rep_doc"] for r in reps.collect()}
        assert rows == {1: 2, 2: 2, 3: 2}  # highest quality, doc_id tiebreak


class TestCCReliableRounds:
    def _edges(self, spark):
        rows = [(i, i + 1) for i in range(0, 40, 2)]          # 20 chains of 2
        rows += [(100, 101), (101, 102), (102, 103), (103, 104)]  # one path of 5
        return spark.createDataFrame(rows, "src long, dst long")

    def test_io_rounds_match_local_checkpoint(self, spark, tmp_path):
        from gnames_spark.checkpoint import ParquetCheckpointIO

        e = self._edges(spark)
        base = {r["doc_id"]: r["component_id"] for r in connected_components(e).collect()}
        io = ParquetCheckpointIO(str(tmp_path / "cc"), "cfgA")
        got = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(e, io=io).collect()
        }
        assert got == base
        import os as _os

        rounds = sorted(d for d in _os.listdir(tmp_path / "cc") if d.startswith("cc_round"))
        assert len(rounds) >= 2  # round 0 + the finished assignment or star rounds

    def test_resume_mid_loop(self, spark, tmp_path):
        """Kill-after-round-k: delete a later round's manifest, rerun —
        completed rounds are reused, the rest recompute, result identical."""
        import os as _os

        from gnames_spark.checkpoint import ParquetCheckpointIO

        e = self._edges(spark)
        root = str(tmp_path / "cc2")
        io = ParquetCheckpointIO(root, "cfgB")
        first = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(e, io=io).collect()
        }
        rounds = sorted(d for d in _os.listdir(root) if d.startswith("cc_round"))
        # simulate a crash mid-round: the last round's manifest is gone
        _os.remove(_os.path.join(root, rounds[-1], "_manifest.json"))
        io2 = ParquetCheckpointIO(root, "cfgB")
        again = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(e, io=io2).collect()
        }
        assert again == first


class TestCCReliableRoundsStarLoop(TestCCReliableRounds):
    """Round checkpoints and mid-loop resume of the star loop itself."""

    @pytest.fixture(autouse=True)
    def _star_loop(self, monkeypatch):
        monkeypatch.setattr(components, "LOCAL_FINISH_MAX_EDGES", -1)


class TestCCLocalFinishStore:
    def test_finished_assignment_is_one_reused_stage(self, spark, tmp_path):
        """On the io= path the local finish writes round 0 and ONE
        finished-assignment stage; a rerun reuses both."""
        import os as _os

        from gnames_spark.checkpoint import ParquetCheckpointIO

        e = spark.createDataFrame([(1, 2), (2, 3), (9, 8)], "src long, dst long")
        root = tmp_path / "cc"
        first = connected_components(e, io=ParquetCheckpointIO(str(root), "cfgC"))
        want = {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}
        assert {r["doc_id"]: r["component_id"] for r in first.collect()} == want
        assert sorted(_os.listdir(root)) == ["cc_round_000", "cc_round_final"]
        mtime = _os.path.getmtime(root / "cc_round_final" / "_manifest.json")
        again = connected_components(e, io=ParquetCheckpointIO(str(root), "cfgC"))
        assert {r["doc_id"]: r["component_id"] for r in again.collect()} == want
        assert _os.path.getmtime(root / "cc_round_final" / "_manifest.json") == mtime


class TestDecontaminate:
    BENCH = ("what is the capital of france and which river flows through "
             "its center on the way to the english channel today")

    def _corpus(self, spark):
        rows = [
            # quotes the benchmark sentence verbatim inside other text
            (1, "intro words before the quote " + self.BENCH + " and trailing"),
            # clean doc, no overlap
            (2, "a completely unrelated page about gardening tools and soil"),
            # quotes only a SHORT (< 13 tokens) fragment — the documented
            # miss class: the evidence unit is longer than the quote
            (3, "short quote: what is the capital of france nothing more"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _reference(self, spark):
        return spark.createDataFrame([(100, self.BENCH)], "doc_id long, text string")

    def test_flags_verbatim_quote_only(self, spark):
        from gnames_spark.operators.decontaminate import contamination_matches

        hits = {
            r["doc_id"]: r["n_matched_grams"]
            for r in contamination_matches(
                self._corpus(spark), self._reference(spark), n=13
            ).collect()
        }
        assert 1 in hits and hits[1] >= 1
        assert 2 not in hits
        assert 3 not in hits  # sub-13-token quote: characterized miss

    def test_decontaminate_split(self, spark):
        from gnames_spark.operators.decontaminate import decontaminate

        clean, contaminated = decontaminate(
            self._corpus(spark), self._reference(spark), n=13
        )
        assert {r["doc_id"] for r in contaminated.collect()} == {1}
        assert {r["doc_id"] for r in clean.collect()} == {2, 3}

    def test_repeated_quote_counts_once(self, spark):
        """array_distinct before the explode: a doc repeating one
        benchmark sentence 5x matches each distinct gram once."""
        from gnames_spark.operators.decontaminate import contamination_matches

        once = spark.createDataFrame([(1, self.BENCH)], "doc_id long, text string")
        five = spark.createDataFrame(
            [(1, " ".join([self.BENCH] * 5))], "doc_id long, text string"
        )
        ref = self._reference(spark)
        n1 = contamination_matches(once, ref, n=13).first()["n_matched_grams"]
        n5 = contamination_matches(five, ref, n=13).first()["n_matched_grams"]
        # the 5x doc gains only the grams SPANNING the repeat seam,
        # never 5x the count
        assert n1 <= n5 < 2 * n1
