"""Pipeline configuration.

The reference exposes its search-space knobs as config
(`/root/reference/pkg/config/config.go:98-112` — MaxEditDist clamped to
1..2, data-source filters, JobsNum) loaded from yaml/env
(`/root/reference/cmd/root.go:98-136`). The dedup analog is this frozen
dataclass: every threshold that affects which duplicate pairs are found
(shingle size, number of permutations, LSH banding, Hamming radius,
Jaccard cutoff) lives here so a run is reproducible and the recall gate
("recall >= 0.99 at identical shingle/signature config") is meaningful.

``config_hash`` stamps every checkpoint (FIXTURES.md §4) so resume
refuses to reuse stages computed under different parameters — the analog
of the reference rebuilding its matcher cache dirs when config changes
(`/root/reference/PLAN_gnmatcher_embed.md:263`).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field, replace


def lsh_catch_probability(s: float, bands: int, rows: int) -> float:
    """P(a pair with true Jaccard ``s`` shares >=1 LSH bucket) = 1-(1-s^r)^b."""
    return 1.0 - (1.0 - s**rows) ** bands


def optimal_bands(num_perms: int, tau: float, target_recall: float = 0.99) -> tuple[int, int]:
    """Pick (bands, rows) with bands*rows == num_perms maximizing rows
    (fewest false candidates) subject to catch-probability at Jaccard
    ``tau`` being >= ``target_recall``.

    The reference hand-clamps its fuzzy search space (MaxEditDist <= 2,
    `/root/reference/pkg/config/config.go:100-112`) and documents the
    false-negative class the clamp creates (README.md:197-203); we derive
    ours from the recall target instead and document the result the same
    way.
    """
    best: tuple[int, int] | None = None
    r = 1
    while r <= num_perms:
        if num_perms % r == 0:
            b = num_perms // r
            if lsh_catch_probability(tau, b, r) >= target_recall:
                best = (b, r)
        r += 1
    if best is None:
        best = (num_perms, 1)
    return best


# fields no code reads any more, at the values they always had;
# config_hash() keeps them so every standing checkpoint store stays valid
_RETIRED_FIELDS = {
    "shingle_mode": "word", "arrow_batch_rows": 2048, "anchor_mod": 16, "simhash_bits": 64,
}


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of the near-duplicate pipeline. Frozen: hash-stable."""

    # shingling
    shingle_k: int = 5            # words per shingle

    # MinHash / LSH
    num_perms: int = 128
    bands: int = 32               # bands * rows_per_band == num_perms
    rows_per_band: int = 4        # (32,4): P(catch|J=0.75) ≈ 0.999995
    minhash_seed: int = 42

    # SimHash / Hamming (64-bit fingerprints, one long column)
    hamming_d: int = 3            # pigeonhole: d+1 = 4 chunks of 16 bits

    # verification
    jaccard_threshold: float = 0.8

    # embedding modality (optional: DedupPipeline.run(pages, embeddings=...))
    # — semantic near-dups whose TEXT differs; no shingle modality can
    # catch a paraphrase, so this branch feeds the SAME verified-edge
    # union when an embedding table is supplied
    emb_threshold: float = 0.9    # cosine >= threshold is a verified near-dup edge
    emb_bucket_cap: int = 256     # hot sign-LSH bucket cap for the embedding branch

    # substring (suffix) pass
    min_substring_len: int = 512  # chars of exact shared substring
    # winnowing (Schleimer et al. 2003) window, in shingles: every
    # sliding window of `winnow_window` consecutive shingles contributes
    # its min hash as an anchor, so any shared run of >= winnow_window
    # shingles GUARANTEES a shared anchor (the retired 1/16 mod-sampler
    # only caught a 512-char run with P≈1-(1-1/16)^106, and its random
    # cross-doc collisions exploded to 1.9M candidate pairs at 120k docs).
    # Sized so the min_shared_anchors guarantee below holds at
    # min_substring_len=512 even for max_token_chars-long words —
    # validate() enforces the inequality.
    winnow_window: int = 16
    # conservative upper bound on token length (chars) assumed when
    # converting min_substring_len (chars) into a guaranteed token run;
    # tokens longer than this inside a shared run weaken the winnowing
    # guarantee (they consume chars without contributing shingles)
    max_token_chars: int = 12

    # skew / overload handling (analog of the reference's 100-results /
    # 20-virus truncation, /root/reference/internal/io/pgio/match_records_map.go:17-22)
    bucket_cap: int = 256         # max docs per LSH bucket; larger buckets dropped+logged
    # anchors get a tighter cap: substring families are small (a long
    # run shared by thousands of docs is boilerplate, which the exact
    # and LSH branches own), while low-entropy corpora make frequent
    # shingles with small hashes anchor hundreds of unrelated docs —
    # the quadratic pair blow-up feeds straight into the expensive LCS
    # kernel (reference virus overload analog: tighter 20-cap,
    # /root/reference/internal/io/pgio/match_records_map.go:154)
    anchor_cap: int = 64
    # a shared substring containing a run of >= 2*winnow_window + k - 1
    # FULL tokens spans >= 2*winnow_window shingle windows, pinning
    # window minima at >= 2 disjoint positions — so requiring 2 shared
    # anchors keeps the winnowing guarantee (up to a 2^-64 hash tie)
    # while dropping single-shingle coincidences. validate() checks the
    # chars-to-tokens conversion (see substring_guarantee_chars).
    min_shared_anchors: int = 2

    # execution
    shuffle_partitions: int = 32
    max_cc_iterations: int = 50
    # salt the CC star-join's hot keys over this many shuffle buckets
    # (exact semantics — mins replicated, neighbors salted by hash(dst);
    # north_rule: CC loop "salted against hot buckets"). None = rely on
    # AQE skew-join splitting alone, fine below megacluster scale.
    cc_salt_buckets: int | None = None

    # optional pre-filter (F7 analog: lang filter,
    # /root/reference/internal/io/pgio/vern_query.go:84-93)
    lang_filter: str | None = None

    # optional crawl-hygiene pre-clean, applied inside prepare_docs in
    # this order BEFORE ids/content hashes are assigned (so content_sha
    # is the sha of the CLEANED text). All off by default — the stage
    # set and schema are unchanged unless opted into.
    #   1. collapse_url_snapshots: keep only the newest (warc_ts, url)
    #      capture per canonical URL (functions/urlnorm.py contract);
    #      requires a warc_ts column.
    #   2. strip_shared_lines_min_docs: C4-style boilerplate strip —
    #      remove every line occurring in >= this many distinct pages
    #      (operators/linededup.py). None = off.
    #   3. max_dup_line_frac / max_top_gram_frac: Gopher repetition
    #      gates — DROP pages whose within-doc duplicate-line fraction
    #      or top-bigram fraction exceeds the bound
    #      (operators/repetition.py). None = off.
    # Scope note: these run per prepare_docs call, so under
    # run_incremental the snapshot collapse and shared-line counts are
    # BATCH-local (a boilerplate line split across small increments may
    # stay under min_docs per batch). Cross-batch boilerplate detection
    # is the streaming screen's job (streaming_boilerplate_screen),
    # whose state accumulates across micro-batches.
    #   4. redact_pii: replace e-mails/IPs/phone numbers with typed
    #      tokens (functions/pii.py) — AFTER the dedup-relevant
    #      cleaning but before hashing, so two pages differing only in
    #      a contact address dedup exactly.
    #   0. blocked_domains: drop pages whose URL host matches a listed
    #      domain exactly or as any-subdomain-of
    #      (functions/urlnorm.filter_blocked_domains) — runs FIRST,
    #      before any extraction-derived gate, because it needs only
    #      the url column. Empty tuple = off.
    blocked_domains: tuple[str, ...] = ()
    collapse_url_snapshots: bool = False
    strip_shared_lines_min_docs: int | None = None
    max_dup_line_frac: float | None = None
    max_top_gram_frac: float | None = None
    redact_pii: bool = False

    def config_hash(self) -> str:
        payload = json.dumps({**asdict(self), **_RETIRED_FIELDS}, sort_keys=True, default=str)
        return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]

    def with_overrides(self, **kw) -> "DedupConfig":
        return replace(self, **kw)

    def substring_guarantee_chars(self) -> int:
        """Minimum min_substring_len (chars) for which the winnowing
        guarantee delivers min_shared_anchors shared anchors.

        A shared substring of C chars contains, worst case, a run of
        C/(max_token_chars+1) − 2 full tokens (the +1 is the separator;
        −2 for the partial tokens at both edges). min_shared_anchors=1
        needs a run of winnow_window + shingle_k − 1 tokens (one full
        shingle window); =2 needs 2·winnow_window + shingle_k − 1 (two
        disjoint windows → two distinct value minima)."""
        need = (2 if self.min_shared_anchors >= 2 else 1) * self.winnow_window
        need_tokens = need + self.shingle_k - 1
        return (need_tokens + 2) * (self.max_token_chars + 1)

    def validate(self) -> None:
        if self.bands * self.rows_per_band != self.num_perms:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows_per_band}) must equal num_perms ({self.num_perms})"
            )
        if 64 % (self.hamming_d + 1) != 0:
            raise ValueError("hamming_d+1 must divide the 64 SimHash bits for pigeonhole chunks")
        if not (0.0 < self.emb_threshold <= 1.0):
            raise ValueError("emb_threshold must be in (0, 1]")
        if self.min_shared_anchors > 2:
            raise ValueError("min_shared_anchors > 2 has no winnowing guarantee derivation")
        guarantee = self.substring_guarantee_chars()
        if self.min_substring_len < guarantee:
            raise ValueError(
                f"min_substring_len={self.min_substring_len} is below the winnowing "
                f"guarantee threshold {guarantee} for (winnow_window={self.winnow_window}, "
                f"shingle_k={self.shingle_k}, min_shared_anchors={self.min_shared_anchors}, "
                f"max_token_chars={self.max_token_chars}) — a documented substring "
                f"duplicate could be silently missed. Lower winnow_window or "
                f"min_shared_anchors, or raise min_substring_len."
            )


DEFAULT_CONFIG = DedupConfig()
