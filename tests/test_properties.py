"""Property-based tests (hypothesis) over the pure-numpy kernels.

No SparkSession: these drive the Arrow-kernel internals directly against
independent scalar/naive references, so hypothesis can shrink failures
in milliseconds. Each property is either an exact algebraic identity of
the kernel (overflow behavior included) or a documented guarantee
(winnowing anchor sharing) under its stated preconditions.

Reference analog: the reference pins its matching kernels with table-
driven unit oracles (e.g. `/root/reference/pkg/ent/score/score_test.go`);
here the tables are generated adversarially.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from gnames_spark.config import DedupConfig
from gnames_spark.functions.fingerprint import (
    _codes,
    fold_fingerprint,
    window_fold_hashes,
)
from gnames_spark.functions.minhash import (
    estimate_jaccard,
    minhash_matrix,
    perm_params,
    splitmix64,
)
from gnames_spark.functions.sigkernel import (
    minhash_flat,
    poly_coeffs,
    shingle_hashes_flat,
    tokenize_hash_batch,
    winnow_anchors,
)
from gnames_spark.functions.simhash import simhash_array, simhash_flat
from gnames_spark.operators.suffix import has_common_substring, lcs_length_sa

# pure-numpy tests are fast; disable the wall-clock deadline so a noisy
# shared host can't produce flaky DeadlineExceeded failures
settings.register_profile("kernels", deadline=None, max_examples=60)
settings.load_profile("kernels")

uint64s = st.integers(min_value=0, max_value=(1 << 64) - 1)
hash_arrays = st.lists(uint64s, min_size=1, max_size=200).map(
    lambda xs: np.array(xs, dtype=np.uint64)
)


def _scalar_splitmix64(z: int) -> int:
    """Independent scalar reference for the vectorized finalizer."""
    mask = (1 << 64) - 1
    z &= mask
    z ^= z >> 30
    z = (z * 0xBF58476D1CE4E5B9) & mask
    z ^= z >> 27
    z = (z * 0x94D049BB133111EB) & mask
    z ^= z >> 31
    return z


class TestSplitmix64:
    @given(st.lists(uint64s, min_size=1, max_size=50))
    def test_matches_scalar_reference(self, vals):
        vec = splitmix64(np.array(vals, dtype=np.uint64))
        assert [int(v) for v in vec] == [_scalar_splitmix64(v) for v in vals]


class TestMinHashProperties:
    SEEDS = perm_params(16, seed=7)

    def _sig(self, arr: np.ndarray) -> np.ndarray:
        return minhash_matrix([arr.view(np.int64)], self.SEEDS)[0]

    @given(hash_arrays, hash_arrays)
    def test_union_is_elementwise_min(self, a, b):
        """sig(A ∪ B) == min(sig(A), sig(B)) per permutation — the
        algebraic identity LSH banding's collision probability rests on."""
        union = np.union1d(a, b)
        got = self._sig(union)
        expect = np.minimum(self._sig(a), self._sig(b))
        assert np.array_equal(got, expect)

    @given(hash_arrays, st.randoms(use_true_random=False))
    def test_order_and_duplicate_invariance(self, a, rnd):
        """The signature is a pure function of the shingle *set*."""
        dup = np.concatenate([a, a[: max(1, len(a) // 2)]])
        idx = list(range(len(dup)))
        rnd.shuffle(idx)
        assert np.array_equal(self._sig(a), self._sig(dup[idx]))

    @given(hash_arrays)
    def test_self_jaccard_is_one(self, a):
        sig = self._sig(a)
        assert estimate_jaccard(sig, sig) == 1.0

    @given(st.lists(st.lists(uint64s, min_size=0, max_size=60), min_size=1, max_size=8))
    def test_flat_kernel_matches_list_kernel(self, docs):
        """sigkernel.minhash_flat (fused pipeline path) == minhash_matrix
        (array-column path) on identical shingle content — the invariance
        that lets the driver oracle check the production kernel."""
        arrs = [np.array(d, dtype=np.uint64) for d in docs]
        counts = np.array([len(d) for d in docs], dtype=np.int64)
        flat = (
            np.concatenate([a for a in arrs if len(a)])
            if counts.sum()
            else np.empty(0, np.uint64)
        )
        got = minhash_flat(flat, counts, self.SEEDS)
        expect = minhash_matrix([a.view(np.int64) for a in arrs], self.SEEDS)
        assert np.array_equal(got, expect)

    @given(st.lists(st.lists(uint64s, min_size=0, max_size=60), min_size=2, max_size=8),
           st.integers(min_value=1, max_value=6))
    def test_batch_boundary_independence(self, docs, split_at):
        """Partition/batch boundaries must never change a signature
        (north_rule determinism requirement)."""
        split_at = min(split_at, len(docs) - 1)
        whole = [np.array(d, dtype=np.uint64).view(np.int64) for d in docs]
        full = minhash_matrix(whole, self.SEEDS)
        parts = np.vstack(
            [minhash_matrix(whole[:split_at], self.SEEDS),
             minhash_matrix(whole[split_at:], self.SEEDS)]
        )
        assert np.array_equal(full, parts)


class TestSimHashProperties:
    @given(st.lists(st.lists(uint64s, min_size=0, max_size=80), min_size=1, max_size=8))
    def test_flat_matches_per_doc(self, docs):
        arrs = [np.array(d, dtype=np.uint64).view(np.int64) for d in docs]
        sizes = np.array([len(d) for d in docs], dtype=np.int64)
        flat = (
            np.concatenate([a for a in arrs if len(a)])
            if sizes.sum()
            else np.empty(0, np.int64)
        )
        got = simhash_flat(flat, sizes)
        expect = np.array(
            [simhash_array([a])[0] for a in arrs], dtype=np.int64
        )
        assert np.array_equal(got, expect)

    @given(st.lists(uint64s, min_size=1, max_size=80), st.randoms(use_true_random=False))
    def test_token_order_invariance(self, tokens, rnd):
        """SimHash is a function of the token multiset (bit-count sums
        commute), so reordered pages fingerprint identically."""
        a = np.array(tokens, dtype=np.uint64).view(np.int64)
        shuffled = a.copy()
        rnd.shuffle(shuffled)
        assert simhash_array([a])[0] == simhash_array([shuffled])[0]

    @given(st.lists(uint64s, min_size=1, max_size=40))
    def test_duplication_invariance(self, tokens):
        """Repeating the whole multiset m times scales every bit-count
        sum by m — the sign per bit, hence the fingerprint, is fixed."""
        a = np.array(tokens, dtype=np.uint64).view(np.int64)
        assert simhash_array([a])[0] == simhash_array([np.tile(a, 3)])[0]


texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFFF),
    max_size=120,
)


class TestFingerprintProperties:
    @given(texts)
    def test_fold_matches_scalar_reference(self, t):
        """Kernel (modular prefix sums) == the per-char scalar recurrence
        h_{j+1} = (h_j*31 + c_j) mod 2^31 it replaced — the exact value
        contract shared with the DuckDB oracle."""
        h = 0
        for cp in t:
            h = (h * 31 + ord(cp)) % (1 << 31)
        assert fold_fingerprint(_codes(t)) == h

    @given(texts, st.integers(min_value=1, max_value=12))
    def test_window_hashes_match_naive_folds(self, t, L):
        codes = _codes(t)
        got = window_fold_hashes(codes, L)
        expect = [fold_fingerprint(codes[i : i + L]) for i in range(len(codes) - L + 1)]
        assert [int(v) for v in got] == expect


class TestRollingHashProperties:
    """The exact substring check and its LCS reference."""

    @given(st.text(alphabet="abc", max_size=40), st.text(alphabet="abc", max_size=40))
    def test_lcs_matches_dp_reference(self, a, b):
        """Suffix-array + LCP LCS == O(nm) DP on a tiny alphabet, which
        maximizes repeated substrings and suffix-rank ties."""
        n, m = len(a), len(b)
        best = 0
        dp = [0] * (m + 1)
        for i in range(1, n + 1):
            prev = 0
            for j in range(1, m + 1):
                cur = dp[j]
                dp[j] = prev + 1 if a[i - 1] == b[j - 1] else 0
                best = max(best, dp[j])
                prev = cur
        assert lcs_length_sa(a, b) == best

    @given(st.text(alphabet="ab", max_size=30), st.text(alphabet="ab", max_size=30),
           st.integers(min_value=1, max_value=10))
    def test_has_common_substring_consistent_with_lcs(self, a, b, min_len):
        assert has_common_substring(a, b, min_len) == (lcs_length_sa(a, b) >= min_len)

    @given(st.text(min_size=0, max_size=50))
    def test_suffix_array_lcs_unicode_and_self(self, a):
        assert lcs_length_sa(a, a) == len(a)
        assert lcs_length_sa(a, "") == 0


# tiny alphabets force many probe occurrences; İ (2 bytes), U+3000 (3)
# and an astral emoji (4) keep the check on code points, not bytes
_SUBSTRING_ALPHABETS = ["a", "ab", "abc", "İ\u3000 ", "a\U0001F600"]


@st.composite
def _planted_substring_cases(draw):
    """(a, b, L): one run of L-3..L+3 chars planted in both texts at
    random offsets, the run either random or periodic in a 1- or 2-char
    unit. The run starts, ends or sits inside each text."""
    alphabet = draw(st.sampled_from(_SUBSTRING_ALPHABETS))
    L = draw(st.sampled_from(range(1, 46)))
    n = max(0, L + draw(st.integers(min_value=-3, max_value=3)))
    if draw(st.booleans()):
        run = draw(st.text(alphabet=alphabet, min_size=n, max_size=n))
    else:
        unit = draw(st.text(alphabet=alphabet, min_size=1, max_size=2))
        run = (unit * n)[:n]

    def plant() -> str:
        left, right = (
            draw(st.text(alphabet=alphabet, min_size=1, max_size=30)) for _ in range(2)
        )
        at = draw(st.sampled_from(["start", "end", "inside"]))
        return (
            run + right if at == "start" else left + run if at == "end" else left + run + right
        )

    return plant(), plant(), L


class TestSubstringCheckProperties:
    @settings(max_examples=1000)
    @given(_planted_substring_cases())
    @example(("xxab", "yab", 3))  # the shared "ab" ends both texts, 1 char short of L
    def test_planted_runs_match_suffix_array_lcs(self, case):
        """Probe-and-extend passes exactly when the suffix-array LCS is
        >= L, including probes whose right extension would run past
        the end of either text."""
        a, b, L = case
        assert has_common_substring(a, b, L) == (lcs_length_sa(a, b) >= L)


class TestTokenizerProperties:
    @given(st.lists(texts, min_size=1, max_size=6))
    def test_batch_boundary_independence(self, docs):
        """Per-doc token hashes are identical whether docs share an Arrow
        batch or arrive alone — partition-independence of the signature
        kernel's first stage."""
        th_all, lens_all = tokenize_hash_batch(pd.Series(docs))
        pieces = [tokenize_hash_batch(pd.Series([d])) for d in docs]
        th_solo = (
            np.concatenate([p[0] for p in pieces])
            if sum(len(p[0]) for p in pieces)
            else np.empty(0, np.uint64)
        )
        assert np.array_equal(lens_all, np.concatenate([p[1] for p in pieces]))
        assert np.array_equal(th_all, th_solo)

    @given(texts)
    def test_matches_python_str_contract(self, t):
        """Tokenization == CPython str.lower()/str.split() — the pinned
        unicode contract (functions/shingles.py) in its reference form."""
        th, lens = tokenize_hash_batch(pd.Series([t]))
        ref = t.lower().split()
        assert lens[0] == len(ref)
        if ref:
            expect = pd.util.hash_array(np.array(ref, dtype=object))
            assert np.array_equal(th, expect)


class TestFnvTokenHash:
    @given(st.lists(st.text(min_size=1, max_size=14,
                            alphabet=st.characters(blacklist_categories=("Cs",),
                                                   max_codepoint=0x2FFFF)),
                    min_size=1, max_size=30))
    def test_matches_scalar_reference(self, tokens):
        """Vectorized FNV-1a token hash (the DuckDB-reproducible SimHash
        fingerprint input, functions/simhash.py) == scalar FNV-1a over
        the first FNV_PREFIX codepoints + length, both 32-bit lanes."""
        from gnames_spark.functions.simhash import (
            FNV_BASIS1,
            FNV_BASIS2,
            FNV_PREFIX,
            FNV_PRIME,
            fnv_token_hashes,
        )

        def scalar(tok: str, basis: int) -> int:
            h = basis
            for cp in tok[:FNV_PREFIX]:
                h = ((h ^ ord(cp)) * FNV_PRIME) & 0xFFFFFFFF
            return ((h ^ len(tok)) * FNV_PRIME) & 0xFFFFFFFF

        flat = np.array(tokens, dtype=object)
        lens = np.array([len(t) for t in tokens], dtype=np.int64)
        got = fnv_token_hashes(flat, lens)
        expect = [
            (scalar(t, FNV_BASIS1) << 32) | scalar(t, FNV_BASIS2) for t in tokens
        ]
        assert [int(v) for v in got] == expect


class TestCollationFoldParity:
    @given(st.text(alphabet="àáâãäåèéêëìíîïòóôõöùúûüýÿçñšžčćřěů"
                            "abcdefghijklmnopqrstuvwxyz"
                            "ABCDEFGHIJKLMNOPQRSTUVWXYZ ÀÁÂÃÄÅÈÉÊËÇÑ0123456789.-",
                   max_size=40))
    def test_python_fold_matches_duckdb_strip_accents(self, s):
        """The documented Spark↔DuckDB parity claim of functions/
        collation.py, checked against a REAL DuckDB strip_accents on the
        mapped alphabet (upper-case accented chars lower() into the map
        first, same as the JVM path)."""
        import duckdb

        from gnames_spark.functions.collation import ACCENTED, PLAIN

        py_fold = s.lower().translate(str.maketrans(ACCENTED, PLAIN))
        duck = duckdb.sql(
            "SELECT strip_accents(lower(?))", params=[s]
        ).fetchone()[0]
        assert py_fold == duck

    def test_accent_map_is_nfd_base_letters(self):
        """Every mapped char's NFD decomposition is its PLAIN base plus
        combining marks only — the invariant that makes the explicit
        translate() map equivalent to strip_accents on this set."""
        import unicodedata

        from gnames_spark.functions.collation import ACCENTED, PLAIN

        for a, p in zip(ACCENTED, PLAIN):
            decomp = unicodedata.normalize("NFD", a)
            assert decomp[0] == p
            assert all(unicodedata.combining(c) for c in decomp[1:])


class TestSignBandingDerivation:
    @given(
        st.floats(min_value=0.5, max_value=0.98),
        st.integers(min_value=100, max_value=10**9),
    )
    def test_recall_constraint_always_met(self, tau, n):
        """derive_sign_banding never trades the 0.99 design catch away —
        when the collision budget is unreachable it falls back to the
        widest recall-feasible bands, not a cheaper/leakier pair."""
        from gnames_spark.operators.embeddings import (
            derive_sign_banding,
            signlsh_catch_probability,
        )

        bits, bands = derive_sign_banding(tau, n)
        assert 4 <= bits <= 32 and 1 <= bands <= 256
        assert signlsh_catch_probability(tau, bands, bits) >= 0.99

    def test_band_width_grows_with_corpus(self):
        from gnames_spark.operators.embeddings import derive_sign_banding

        widths = [derive_sign_banding(0.9, n)[0] for n in (10**3, 10**5, 10**7)]
        assert widths == sorted(widths) and widths[0] < widths[-1]


class TestWinnowingProperties:
    K = 3       # shingle_k
    WWIN = 4    # winnow_window
    COEFFS = poly_coeffs(K, 101)

    def _anchors(self, tokens: list[str]) -> set[int]:
        th, lens = tokenize_hash_batch(pd.Series([" ".join(tokens)]))
        S, _ = shingle_hashes_flat(th, lens, self.K, self.COEFFS)
        return set(int(v) for v in winnow_anchors(S, self.WWIN))

    @given(st.data())
    def test_shared_run_guarantees_shared_anchors(self, data):
        """The documented winnowing guarantee (sigkernel.winnow_anchors):
        a shared token run of >= wwin+k-1 tokens ⇒ >= 1 shared anchor;
        >= 2*wwin+k-1 tokens with distinct shingles ⇒ >= 2 shared
        anchors (the min_shared_anchors=2 prefilter's soundness
        condition, enforced by DedupConfig.validate)."""
        two_anchor_run = 2 * self.WWIN + self.K - 1
        run_len = data.draw(st.integers(min_value=two_anchor_run, max_value=two_anchor_run + 8))
        n_left_a = data.draw(st.integers(min_value=0, max_value=6))
        n_right_a = data.draw(st.integers(min_value=0, max_value=6))
        n_left_b = data.draw(st.integers(min_value=0, max_value=6))
        n_right_b = data.draw(st.integers(min_value=0, max_value=6))
        # distinct tokens by construction: contexts disjoint per doc,
        # run tokens shared verbatim (the precondition under which the
        # 2-anchor guarantee is exact up to 2^-64 hash collisions)
        run = [f"r{i}" for i in range(run_len)]
        doc_a = [f"a{i}" for i in range(n_left_a)] + run + [f"za{i}" for i in range(n_right_a)]
        doc_b = [f"b{i}" for i in range(n_left_b)] + run + [f"zb{i}" for i in range(n_right_b)]
        shared = self._anchors(doc_a) & self._anchors(doc_b)
        assert len(shared) >= 2

    @given(hash_arrays)
    def test_anchors_are_window_minima_of_sequence(self, seq):
        """Every anchor value is an actual shingle hash of the doc
        (range-shifted), and anchors are distinct."""
        anchors = winnow_anchors(seq, self.WWIN)
        present = set(int(v) for v in (seq >> np.uint64(1)).astype(np.int64))
        assert len(set(anchors.tolist())) == len(anchors)
        assert set(int(v) for v in anchors) <= present

    def test_config_guarantee_is_what_the_kernel_delivers(self):
        """DedupConfig.substring_guarantee_chars() must be >= the char
        length of a (2*wwin + k - 1)-token run of maximal-length words —
        i.e. the config's validated threshold really buys the 2-anchor
        property tested above."""
        cfg = DedupConfig()
        min_tokens = 2 * cfg.winnow_window + cfg.shingle_k - 1
        assert cfg.substring_guarantee_chars() >= min_tokens


class TestPackingProperties:
    """Pure-Python replay of the packing layout law — no Spark here
    (Spark-side equivalence is pinned by the DuckDB oracle and
    tests/test_packing.py); this checks the LAYOUT ALGEBRA itself on
    arbitrary token-count multisets."""

    @given(
        st.lists(st.integers(min_value=0, max_value=300), max_size=60),
        st.integers(min_value=1, max_value=64),
    )
    def test_layout_law(self, token_counts, budget):
        # replicate pack_sequences' math: contiguous offsets, DIV seqs
        pos = 0
        for n in token_counts:
            start = pos
            pos += n
            first = start // budget
            last = (pos - 1) // budget if n > 0 else start // budget
            assert first <= last
            # the span covers exactly the sequences the doc's tokens
            # touch: token t at stream position start+t lies in
            # sequence (start+t)//budget
            if n > 0:
                assert first == start // budget
                assert last == (start + n - 1) // budget
            # manifest overlap arithmetic conserves the doc's tokens
            total = 0
            for s in range(first, last + 1):
                lo = max(start, s * budget)
                hi = min(pos, (s + 1) * budget)
                if n > 0:
                    assert hi > lo
                    total += hi - lo
            if n > 0:
                assert total == n
        # stats law: ceil-div sequence count bounds every per-doc last
        n_seqs = (pos + budget - 1) // budget
        if token_counts and pos > 0:
            assert (pos - 1) // budget == n_seqs - 1


def _scalar_components(edges) -> dict[int, int]:
    """node → min id of its component, by a per-edge union-find."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestUnionFindProperties:
    """connected_components' one-task finish (``_union_find``) against a
    scalar union-find, on graphs with duplicate edges, self-loops, hubs
    and long paths."""

    node_ids = st.integers(min_value=-(1 << 62), max_value=1 << 62)

    @given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=120),
           st.lists(node_ids, min_size=41, max_size=41, unique=True))
    def test_matches_scalar_union_find(self, edges, relabel):
        # small index space for dense collisions, then scattered 64-bit ids
        edges = [(relabel[a], relabel[b]) for a, b in edges]
        src = np.array([a for a, _ in edges], dtype=np.int64)
        dst = np.array([b for _, b in edges], dtype=np.int64)
        from gnames_spark.operators.components import _union_find

        ids, comp = _union_find(src, dst)
        assert dict(zip(ids.tolist(), comp.tolist())) == _scalar_components(edges)

    @given(st.integers(1, 3000), st.randoms(use_true_random=False))
    def test_hub_and_shuffled_path(self, n, rnd):
        from gnames_spark.operators.components import _union_find

        order = list(range(n + 1))
        rnd.shuffle(order)
        path = list(zip(order, order[1:]))           # one long path
        hub = [(n + 1, n + 2 + i) for i in range(n)]  # one n-leaf hub
        edges = path + hub
        ids, comp = _union_find(
            np.array([a for a, _ in edges], dtype=np.int64),
            np.array([b for _, b in edges], dtype=np.int64),
        )
        want = dict.fromkeys(range(n + 1), 0)
        want.update(dict.fromkeys(range(n + 1, 2 * n + 2), n + 1))
        assert dict(zip(ids.tolist(), comp.tolist())) == want
