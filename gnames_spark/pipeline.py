"""End-to-end near-duplicate detection + clustering pipeline.

The Spark shape of the reference's verify lifecycle (SURVEY §3.1):

    pages → extract (pandas UDF) → docs (content_sha, shingles)
          → [exact branch | MinHash→LSH branch | anchor branch]
          → union candidate pairs → exact-Jaccard / substring verification
          → pair scoring → connected components → representatives

Candidate generation and hydration — two different *systems* in the
reference (gnmatcher + PostgreSQL) — collapse into joins inside one
engine. Every stage checkpoints through CheckpointIO so a killed run
resumes (north_rule), and per-stage metrics record docs/sec.

Candidates come from exact content identity, MinHash LSH bands and
winnowing anchors only: the verified predicate is shingle Jaccard (LCS
for anchor pairs), so the candidate families match the measure. The
LSH and anchor branches are described once, as data
(:class:`_PostingBranch`), and run through the one capped posting
engine (operators/postings.py). A full run is an increment with no
base: ``run_incremental`` calls the same ``candidates`` and
``embedding_pairs`` stages with the base tables, which makes their
posting joins one-sided.

Scale defaults baked in: html is dropped immediately after extraction
(column pruning — it dominates bytes, SURVEY §4 P2); exact-dup
representatives screen the corpus before the expensive branches (early-
exit cascade P3); every candidate source caps hot buckets and logs the
overflow (P5); pair tables stay flat — nothing is collect_list'd until
the reporting edge.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gnames_spark.checkpoint import ParquetCheckpointIO
from gnames_spark.config import DedupConfig
from gnames_spark.functions.extraction import extract_text
from gnames_spark.functions.sigkernel import make_signature_udf
from gnames_spark.metrics import MetricsCollector, codegen_compiles
from gnames_spark.operators.components import all_components, connected_components
from gnames_spark.operators.exact import (
    distinct_content,
    exact_dup_edges,
    with_content_sha,
)
from gnames_spark.operators.embeddings import ann_dup_pairs
from gnames_spark.operators.incremental import merge_cluster_summary, merge_components
from gnames_spark.operators.lsh import band_postings
from gnames_spark.operators.postings import capped_posting_pairs
from gnames_spark.operators.representatives import cluster_summary, select_representatives
from gnames_spark.operators.scoring import method_rank_col, pair_score
from gnames_spark.operators.suffix import shared_anchor_pairs
from gnames_spark.operators.verify import verify_candidates


class _PostingBranch(NamedTuple):
    """One posting candidate branch as data; ``pair_filter`` maps the
    engine's pairs to the branch's (doc_a, doc_b) candidates."""

    method: str
    overflow_metric: str
    postings: Callable[[DataFrame], DataFrame]
    keys: tuple[str, ...]
    cap: int
    pair_filter: Callable[[DataFrame], DataFrame] = lambda pairs: pairs


def _common_union(base: DataFrame, new: DataFrame) -> DataFrame:
    """``base`` ∪ ``new`` on the columns both carry, in base's order."""
    common = [c for c in base.columns if c in new.columns]
    return base.select(common).unionByName(new.select(common))


def _passed_edges(verified: DataFrame) -> DataFrame:
    """The passed verified pairs as (src, dst) graph edges."""
    return verified.filter("passed").select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )


class DedupPipeline:
    """Orchestrates the stages; with a checkpoint root, every stage is
    resumable and metered."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig | None = None,
        checkpoint_root: str | None = None,
        run_id: str | None = None,
        enable_substring: bool = True,
        cc_checkpoint_rounds: bool = False,
    ):
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.cfg.validate()
        self.metrics = MetricsCollector(run_id or uuid.uuid4().hex[:12])
        self.io = (
            ParquetCheckpointIO(checkpoint_root, self.cfg.config_hash())
            if checkpoint_root
            else None
        )
        self.enable_substring = enable_substring
        # route each CC round through the reliable checkpoint store
        # (survives executor loss mid-loop; resumes at the first missing
        # round) instead of executor-local blocks. Off by default in the
        # sandbox — localCheckpoint is faster and single-JVM local mode
        # cannot lose an executor. Turn ON for cluster runs.
        self.cc_checkpoint_rounds = cc_checkpoint_rounds and self.io is not None
        self._overflow_cache: list[DataFrame] = []
        # stage-name namespace: run_incremental() prefixes every stage
        # ("inc_docs", "inc_verified_pairs", ...) so an increment's
        # checkpoints never collide with (or wrongly reuse) the base
        # run's stages in the same store
        self._stage_ns = ""

    # -- stage helper ------------------------------------------------
    def _stage(self, name: str, build) -> DataFrame:
        """Materialize ``build()`` as stage ``name`` and record its rows,
        wall and the generated classes Spark compiled for it."""
        name = self._stage_ns + name
        compiled0 = codegen_compiles(self.spark)
        if self.io is not None:
            df, res = self.io.write_or_reuse(self.spark, name, build)
            rows, secs, reused = res.rows, res.secs, res.reused
        else:
            # no checkpoint store: localCheckpoint (persist + LINEAGE
            # CUT) so downstream stages (each consumed 2-4x) never
            # recompute upstream work — the in-memory analog of the
            # checkpoint write. The lineage cut matters as much as the
            # caching: with plain persist the logical plan of every stage
            # nests all upstream plans, and driver-side analysis goes
            # combinatorial once run_incremental unions base-run
            # lineages into increment stages (measured: a count over a
            # 1,321-row persisted table spent 96 s in the analyzer
            # before this cut).
            t0 = time.monotonic()
            df = build().localCheckpoint(eager=True)
            rows, secs, reused = df.count(), time.monotonic() - t0, False
        self.metrics.record(
            name, rows, secs, reused=reused,
            codegen_compiles=codegen_compiles(self.spark) - compiled0,
        )
        # the overflow tables the build persisted were double-consumed
        # (stats collect + anti-join); the stage is materialized now, so
        # release the cached partitions
        for o in self._overflow_cache:
            o.unpersist()
        self._overflow_cache.clear()
        return df

    def _record_overflow(
        self, name: str, overflow: DataFrame, count_col: str = "n_docs"
    ) -> None:
        """Hot-bucket truncation is NEVER silent (north_rule / SURVEY §4
        P5): record how many buckets were dropped and how many docs
        (``count_col``) they held — the analog of the reference logging
        skipped-record counts.

        The overflow DF is persisted first: it is consumed twice (this
        stats collect + the branch's anti-join) and is tiny;
        :meth:`_stage` unpersists it once the stage is materialized."""
        overflow = overflow.persist()
        self._overflow_cache.append(overflow)
        row = overflow.agg(
            F.count("*").alias("n"), F.coalesce(F.sum(count_col), F.lit(0)).alias("docs")
        ).collect()[0]
        self.metrics.record(self._stage_ns + name, int(row["n"]), 0.0, dropped_docs=int(row["docs"]))

    # -- stages --------------------------------------------------------
    # The full hygiene chain is the composition of the two phases below;
    # prepare_docs / preclean_report run them with html extraction
    # BETWEEN (cheap-screen-before-expensive-work: blocked/stale pages
    # must never pay the extraction kernel — the same discipline as the
    # reference's bloom→trie→DB cascade,
    # /root/reference/PLAN_gnmatcher_embed.md:14-18). There is
    # deliberately no composed helper: a second entry point to the same
    # chain is exactly what let the report and pipeline paths drift
    # before the split.

    def _apply_url_preclean(
        self, df: DataFrame, audit: list | None = None
    ) -> DataFrame:
        """URL-level hygiene gates (domain blocklist, URL snapshot
        collapse) — they read only ``url``/``warc_ts``, so they run
        BEFORE html extraction and blocked/stale pages never pay the
        extraction kernel. With ``audit`` (a list), each gate appends
        (gate, n_in, n_out, detail) — counting costs extra jobs, so the
        pipeline path passes None and pays nothing. Unlike the text
        phase, audit mode NEVER checkpoints here: the input may still
        carry the raw ``html`` bytes (checkpointing would pin the whole
        crawl to executor storage for a diagnostic), and the audit
        counts only project url/warc_ts — column pruning keeps the
        recomputation of these two cheap gates off the html column
        entirely."""
        cfg = self.cfg
        auditing = audit is not None

        if cfg.blocked_domains:
            from gnames_spark.functions.urlnorm import filter_blocked_domains

            n_in = df.count() if auditing else None
            df = filter_blocked_domains(
                df, list(cfg.blocked_domains), id_col="url"
            )
            if auditing:
                audit.append(
                    ("blocked_domains", n_in, df.count(),
                     f"{len(cfg.blocked_domains)} blocked domains "
                     f"(exact + subdomains)")
                )
        if cfg.collapse_url_snapshots:
            from gnames_spark.functions.urlnorm import latest_snapshot

            if "warc_ts" not in df.columns:
                raise ValueError("collapse_url_snapshots needs a warc_ts column")
            n_in = df.count() if auditing else None
            df = latest_snapshot(df, ts_col="warc_ts", id_col="url").drop(
                "canonical_url", "n_snapshots"
            )
            if auditing:
                audit.append(
                    ("collapse_url_snapshots", n_in, df.count(),
                     "kept newest capture per canonical URL")
                )
        return df

    def _apply_text_preclean(
        self, df: DataFrame, audit: list | None = None
    ) -> DataFrame:
        """Text-level hygiene gates (boilerplate line strip → repetition
        gate → PII redaction) — they read ``text``, so they run AFTER
        html extraction. Same audit contract as the URL phase, but here
        audit mode DOES checkpoint each gate boundary: the gates are
        expensive (the line shuffles, the repetition kernel) and the
        input is html-free, so a count never recomputes the gates
        before it."""
        cfg = self.cfg
        auditing = audit is not None

        def ckpt(d: DataFrame) -> DataFrame:
            return d.localCheckpoint(eager=True) if auditing else d

        if cfg.strip_shared_lines_min_docs is not None:
            from gnames_spark.operators.linededup import strip_shared_lines

            if not auditing:
                # the line strip references df from several branches
                # (lines, hot-line agg, join-back); cut lineage ONCE so
                # extraction (the most expensive map in the pipeline)
                # and the source scan run once, not per branch — the
                # same localCheckpoint idiom as every stage boundary
                df = df.localCheckpoint(eager=True)
            stripped = strip_shared_lines(
                df, cfg.strip_shared_lines_min_docs, id_col="url"
            )
            if auditing:
                n_in = df.count()
                n_lines = stripped.agg(
                    F.sum("n_shared_lines").alias("s")
                ).collect()[0]["s"] or 0
            df = ckpt(stripped.drop("n_lines", "n_shared_lines"))
            if auditing:
                audit.append(
                    ("strip_shared_lines", n_in, df.count(),
                     f"{n_lines} boilerplate line occurrences removed")
                )
        if cfg.max_dup_line_frac is not None or cfg.max_top_gram_frac is not None:
            from gnames_spark.operators import repetition as rep

            n_in = df.count() if auditing else None
            p, keep = F.col("_rep"), F.lit(True)
            if cfg.max_dup_line_frac is not None:
                keep &= rep.dup_line_frac(p) <= cfg.max_dup_line_frac
            if cfg.max_top_gram_frac is not None:
                keep &= rep.top_gram_frac(p) <= cfg.max_top_gram_frac
            df = ckpt(
                df.withColumn("_rep", rep.repetition_profile(F.col("text"), 2))
                .filter(keep).drop("_rep")
            )
            if auditing:
                audit.append(
                    ("repetition_gate", n_in, df.count(),
                     f"dup_line_frac <= {cfg.max_dup_line_frac}, "
                     f"top_gram_frac <= {cfg.max_top_gram_frac}")
                )
        if cfg.redact_pii:
            from gnames_spark.functions.pii import redact_pii

            if auditing:
                n_in = df.count()
                red = ckpt(df.withColumn("_redacted", redact_pii("text")))
                touched = red.filter(F.col("_redacted") != F.col("text")).count()
                df = red.drop("text").withColumnRenamed("_redacted", "text")
                audit.append(
                    ("redact_pii", n_in, n_in, f"{touched} docs had PII redacted")
                )
            else:
                df = df.withColumn("text", redact_pii("text"))
        return df

    def preclean_report(self, pages: DataFrame) -> DataFrame:
        """Diagnostic: per-gate (gate, n_in, n_out, detail) for the
        configured hygiene gates over these pages — the operational
        'what did each gate cost me' report, without running the dedup
        stages. Runs the EXACT chain prepare_docs runs (shared code
        path; tests pin the final count against prepare_docs)."""
        audit: list = []
        df = self._apply_url_preclean(pages, audit)
        if "html" in df.columns:
            df = df.withColumn("text", extract_text("html")).drop("html")
        df = df.localCheckpoint(eager=True)
        out = self._apply_text_preclean(df, audit)
        if self.cfg.lang_filter is not None:
            n_in = out.count()
            kept = out.filter(F.col("lang") == self.cfg.lang_filter)
            audit.append(
                ("lang_filter", n_in, kept.count(),
                 f"lang == {self.cfg.lang_filter}")
            )
        if not audit:
            n = df.count()
            audit.append(("no_gates_configured", n, n, ""))
        return self.spark.createDataFrame(
            audit, "gate string, n_in long, n_out long, detail string"
        )

    def prepare_docs(self, pages: DataFrame) -> DataFrame:
        """pages(url, html[, text]) → docs(doc_id, url, text, lang,
        content_sha, n_chars). html is extracted then DROPPED.

        Optional crawl-hygiene pre-clean (config-gated, see
        DedupConfig): snapshot collapse → boilerplate line strip →
        repetition gate — all BEFORE content_sha, so the exact screen
        sees cleaned bytes (two pages differing only by a cookie
        banner become exact dups after the strip). The URL-level gates
        (domain blocklist, snapshot collapse) run BEFORE html
        extraction — on a real crawl they drop 30-50% of pages, and
        those pages must never pay the most expensive kernel in the
        pipeline (pinned by
        tests/test_pipeline.py::TestPrecleanOrdering)."""
        cfg = self.cfg

        def build():
            df = self._apply_url_preclean(pages)
            if "html" in df.columns:
                df = df.withColumn("text", extract_text("html")).drop("html")
            df = self._apply_text_preclean(df)
            if cfg.lang_filter is not None:
                df = df.filter(F.col("lang") == cfg.lang_filter)
            if "doc_id" not in df.columns:
                # deterministic content-independent id (UUIDv5-of-url analog,
                # /root/reference/pkg/gnames_verif.go:48)
                df = df.withColumn("doc_id", F.xxhash64("url"))
            df = with_content_sha(df)
            return df.withColumn("n_chars", F.length("text"))

        return self._stage("docs", build)

    def signatures(self, docs: DataFrame, exclude: DataFrame | None = None) -> DataFrame:
        """One row per DISTINCT content: LSH band hashes + shingle
        count + anchor sample, all from ONE fused Arrow kernel
        (functions/sigkernel.py — no interpreted JVM lambdas, no wide
        shingle arrays stored).

        Exact duplicates are signed once (early-exit cascade) — at web
        scale this is a huge saving (Common Crawl is ~50%+ exact dups).
        ``exclude`` (doc_id): representatives not to sign —
        :meth:`run_incremental`'s byte-identity-linked docs, whose
        content the base already signed (a small table, broadcast).
        """
        cfg = self.cfg

        def build():
            reps = distinct_content(docs)
            if exclude is not None:
                reps = reps.join(F.broadcast(exclude.select("doc_id")), "doc_id", "left_anti")
            sig = make_signature_udf(cfg)
            return (
                reps.select("doc_id", sig(F.col("text")).alias("sig"))
                .select("doc_id", "sig.bands", "sig.n_shingles", "sig.anchors")
                .withColumn("config_hash", F.lit(cfg.config_hash()))
            )

        return self._stage("signatures", build)

    def _posting_branches(self) -> list[_PostingBranch]:
        """The enabled branches; postings build from a signature table."""
        cfg = self.cfg
        branches = [_PostingBranch(
            "lsh", "lsh_overflow_buckets",
            band_postings, ("band", "bucket_hash"), cfg.bucket_cap,
        )]
        if self.enable_substring:
            branches.append(_PostingBranch(
                "anchor", "anchor_overflow",
                lambda s: s.select("doc_id", F.explode("anchors").alias("anchor")),
                ("anchor",), cfg.anchor_cap,
                pair_filter=lambda p: shared_anchor_pairs(p, cfg.min_shared_anchors),
            ))
        return branches

    def candidates(
        self,
        docs: DataFrame,
        signatures: DataFrame,
        base_signatures: DataFrame | None = None,
        link_edges: DataFrame | None = None,
    ) -> DataFrame:
        """Union of the candidate branches (U2 analog: the reference
        unions canonical+virus hydration results,
        ``match_records_map.go:143-144``).

        With ``base_signatures`` this is the one-sided form
        :meth:`run_incremental` uses: each branch's postings combine
        base + ``signatures`` so caps see the TRUE bucket sizes
        (identical overflow behavior to a full recompute), but only
        pairs touching >= 1 doc of ``signatures`` are generated —
        old-vs-old connectivity already lives in the base component
        assignment. ``link_edges`` (doc_a, doc_b, method) join the exact
        branch: the increment's byte-identity edges to base docs.

        The caps are the recall bound, as in the reference, which drops
        a hot key and counts it (``match_records_map.go:17-22``): a pair
        whose shared keys all sat in overflowed buckets is not a
        candidate of that branch, and a substring dup whose anchors all
        overflowed never reaches the LCS check. Overflowed anchor
        buckets are boilerplate families (measured: at 30k synthetic
        pages, re-admitting their pairs to LCS passed 143k
        chrome-sharing pairs). Each branch logs its overflow per run."""
        cfg = self.cfg

        def build():
            pairs = exact_dup_edges(docs).select("doc_a", "doc_b", "method")
            if link_edges is not None:
                pairs = pairs.unionByName(link_edges)
            new = signatures.filter(F.col("n_shingles") > 0)
            old = None if base_signatures is None else base_signatures.filter(F.col("n_shingles") > 0)
            for br in self._posting_branches():
                found, overflow = capped_posting_pairs(
                    br.postings(new), br.keys, br.cap, cfg.shuffle_partitions,
                    base=None if old is None else br.postings(old),
                )
                self._record_overflow(br.overflow_metric, overflow)
                pairs = pairs.unionByName(
                    br.pair_filter(found).select("doc_a", "doc_b", F.lit(br.method).alias("method"))
                )
            # one groupBy dedups every branch, keeping the strongest
            # method per pair. anchor outranks lsh: the verified
            # stage routes Jaccard-failed anchor pairs into the
            # substring LCS check, so a pair co-detected by lsh must not
            # lose its anchor tag (a substring dup at J<tau would
            # silently skip LCS otherwise)
            return pairs.groupBy("doc_a", "doc_b").agg(
                F.max_by("method", F.when(F.col("method") == "exact", 4)
                         .when(F.col("method") == "anchor", 3)
                         .otherwise(2)).alias("method")
            )

        return self._stage("candidate_pairs", build)

    def verified(self, candidates: DataFrame, signatures: DataFrame, docs: DataFrame) -> DataFrame:
        cfg = self.cfg

        def build():
            # exact-method pairs are already proven (byte identity)
            exact = candidates.filter(F.col("method") == "exact").select(
                "doc_a", "doc_b", "method",
                F.lit(1.0).alias("jaccard"), F.lit(True).alias("passed"),
            )
            rest = candidates.filter(F.col("method") != "exact")
            # Jaccard-failed ANCHOR pairs get the substring check
            # (PartialExact): winnowing guarantees any >= min_substring_len
            # shared substring produced a shared anchor, so lsh-only
            # failures cannot be substring dups — skipping them keeps the
            # LCS kernel off the boilerplate cross-pair flood. A pair whose
            # shared anchors all sat in overflowed buckets carries no
            # anchor tag and never reaches LCS: the cap is the recall
            # bound (see candidates).
            lcs_route = F.col("method") == "anchor"
            # size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|),
            # so an lsh pair whose shingle-count ratio is below
            # the threshold CANNOT pass Jaccard — drop it before the
            # (expensive) text join-back + intersection. n_shingles is
            # already in the narrow signatures table. Anchor pairs are
            # exempt: their Jaccard failure routes them to the substring
            # check, a path that must survive regardless of set-size skew.
            nsz = signatures.select("doc_id", "n_shingles")
            na = nsz.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("_na"))
            nb = nsz.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("_nb"))
            sized = rest.join(na, "doc_a", "left").join(nb, "doc_b", "left")
            ratio_fail = (
                F.least("_na", "_nb")
                < F.lit(cfg.jaccard_threshold) * F.greatest("_na", "_nb")
            )
            prunable = ratio_fail & ~lcs_route & F.col("_na").isNotNull() & F.col("_nb").isNotNull()
            pruned = sized.filter(prunable).select(
                "doc_a", "doc_b", "method",
                F.lit(0.0).alias("jaccard"), F.lit(False).alias("passed"),
            )
            # join-back: one pair⋈texts crossing whose kernel builds each
            # participant's shingle set (same code as the signature
            # kernel → identical hashes), takes the Jaccard and runs the
            # substring check on the routed failures
            ver = verify_candidates(
                sized.filter(~prunable), docs, cfg,
                route=lcs_route if self.enable_substring else None,
            )
            out = exact.unionByName(pruned).unionByName(ver)
            return out.withColumn("score", pair_score(hamming_col=None))

        return self._stage("verified_pairs", build)

    def components(self, docs: DataFrame, verified: DataFrame) -> DataFrame:
        cfg = self.cfg

        def build():
            assign = connected_components(
                _passed_edges(verified),
                max_iterations=cfg.max_cc_iterations,
                io=self.io if self.cc_checkpoint_rounds else None,
                salt_buckets=cfg.cc_salt_buckets,
            )
            # exact-dup members share content_sha with the signed
            # representative; they inherit its component through the
            # exact star edges already present in `edges`.
            return all_components(docs, assign)

        return self._stage("components", build)

    def run(
        self, pages: DataFrame, embeddings: DataFrame | None = None
    ) -> dict[str, DataFrame]:
        """End-to-end run. ``embeddings`` (optional): a (doc_id,
        embedding) table keyed like the docs — when supplied, the
        embedding-cosine modality contributes verified edges (semantic
        twins whose text differs) to the same component clustering; when
        absent, plans are bit-identical to the text-only pipeline."""
        docs = self.prepare_docs(pages)
        sigs = self.signatures(docs)
        cands = self.candidates(docs, sigs)
        ver = self.verified(cands, sigs, docs)
        out: dict[str, DataFrame] = {}
        if embeddings is not None:
            emb = self.embedding_pairs(embeddings)
            ver = self.merge_verified(ver, emb)
            out["embedding_pairs"] = emb
        comps = self.components(docs, ver)
        reps = select_representatives(comps)
        summary = cluster_summary(comps)
        out.update({
            "docs": docs,
            "signatures": sigs,
            "candidate_pairs": cands,
            "verified_pairs": ver,
            "components": comps,
            "representatives": reps,
            "cluster_summary": summary,
        })
        return out

    def embedding_pairs(
        self, embeddings: DataFrame, base_embeddings: DataFrame | None = None
    ) -> DataFrame:
        """The embedding-cosine near-dup modality: banded sign-LSH
        candidates (size-aware banding — never n²) + exact-cosine verify
        at ``cfg.emb_threshold`` (operators/embeddings.ann_dup_pairs).
        Returns verified-shaped edges with
        ``method='embedding'`` and the cosine carried alongside; hot
        buckets are capped at ``cfg.emb_bucket_cap`` and logged like
        every other branch.

        This is the one modality that catches semantic twins whose TEXT
        differs (paraphrase, near-rewrite) — byte/shingle methods cannot.

        With ``base_embeddings`` (:meth:`run_incremental`): the
        one-sided form. Banding is derived from the COMBINED size —
        exactly what a fresh run over old ∪ new would derive — caps see
        combined bucket sizes, and only pairs touching >= 1 row of
        ``embeddings`` generate. Unlike the text path (whose band
        columns are STORED in the signatures table), base postings
        recompute each increment — a hyperplane matmul over the base
        embeddings."""
        cfg = self.cfg

        def build():
            first = (
                embeddings.select("embedding")
                .filter(F.col("embedding").isNotNull())
                .first()
            )
            if first is None:
                return self.spark.createDataFrame(
                    [],
                    "doc_a long, doc_b long, method string, jaccard double, "
                    "passed boolean, cosine double",
                )
            combined = embeddings if base_embeddings is None else base_embeddings.unionByName(embeddings)
            n_total = combined.count()
            pairs, overflow = ann_dup_pairs(
                embeddings, cfg.emb_threshold, dim=len(first[0]), id_col="doc_id",
                bucket_cap=cfg.emb_bucket_cap, n_vectors_hint=n_total, base=base_embeddings,
            )
            self._record_overflow("emb_overflow_buckets", overflow, count_col="n_vecs")
            return pairs.select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                F.lit("embedding").alias("method"),
                F.lit(None).cast("double").alias("jaccard"),
                F.lit(True).alias("passed"),
                F.col("cosine"),
            )

        return self._stage("embedding_pairs", build)

    def merge_verified(self, ver: DataFrame, emb_pairs: DataFrame) -> DataFrame:
        """Union text-verified and embedding edges into one pair table.
        One pair found by several modalities keeps the strongest
        PASSED method (deterministic: method ranks are distinct and
        failed rows rank below every passed row), the max jaccard, and
        the cosine where the embedding branch saw it."""

        def build():
            base = ver.select(
                "doc_a", "doc_b", "method", "jaccard", "passed",
                F.lit(None).cast("double").alias("cosine"),
            )
            strength = method_rank_col() + F.when(F.col("passed"), 100).otherwise(0)
            return (
                base.unionByName(
                    emb_pairs.select(
                        "doc_a", "doc_b", "method", "jaccard", "passed", "cosine"
                    )
                )
                .groupBy("doc_a", "doc_b")
                .agg(
                    F.max_by("method", strength).alias("method"),
                    F.max("jaccard").alias("jaccard"),
                    F.max("passed").alias("passed"),
                    F.max("cosine").alias("cosine"),
                )
                .withColumn("score", pair_score(hamming_col=None))
            )

        return self._stage("verified_all", build)

    # -- incremental path ---------------------------------------------
    def run_incremental(
        self,
        new_pages: DataFrame,
        base: dict[str, DataFrame],
        batch_id: str | None = None,
        new_embeddings: DataFrame | None = None,
        base_embeddings: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Fold a NEW batch of pages into an already-deduplicated corpus
        — O(|increment| x touched-postings), never old-vs-old.

        ``base`` is the dict a previous :meth:`run` (or
        ``run_incremental``) returned — ``docs``, ``signatures``,
        ``components`` are used. Page doc identity is xxhash64(url), so
        increment urls must be new urls (re-crawls of an existing url
        are an upsert, out of scope here).

        The stages (namespaced ``inc_*`` in the checkpoint store):
        1. ``inc_docs`` — extract + content_sha for the increment only.
        2. Byte-identical link: increment shas join the base exact-group
           reps (ONE columnar scan of base docs, increment broadcast);
           linked docs produce exact edges and are NOT re-signed.
        3. ``inc_signatures`` — fused kernel over genuinely-new distinct
           content only.
        4. ``inc_candidate_pairs`` — :meth:`candidates` with the base
           signatures: one-sided posting joins against base+increment
           postings; caps see true combined bucket sizes.
        5. ``inc_verified_pairs`` — the unchanged :meth:`verified` stage
           (size-ratio prune, exact Jaccard, substring LCS routing) over
           the union signature/doc tables (join-back hydrates only pair
           participants, so the base corpus is scanned, not verified).
        6. ``inc_components`` — :func:`merge_components` contraction:
           CC runs on a graph of <= 2·|new edges| nodes; the merge map
           broadcasts over the standing assignment.

        Identity: equals a from-scratch :meth:`run` over old ∪ new docs
        (asserted end-to-end in tests/test_incremental.py), except that
        pairs whose bucket overflows only in the combined corpus keep
        their base-run edges (a fresh run would have dropped them —
        incremental is recall->=-full-run under caps, never below).

        ``new_embeddings``/``base_embeddings``: the embedding modality's
        one-sided analog (:meth:`embedding_pairs` with a base) — when
        the base ran with embeddings, pass both and the fold-in result
        equals a fresh :meth:`run` over old ∪ new with the combined
        embedding table (same derived banding, same caps-see-combined
        semantics; pytest-pinned in tests/test_incremental.py).

        ``batch_id`` namespaces this increment's checkpoint stages
        (``inc_<batch_id>_*``). REQUIRED for repeated increments against
        one checkpoint store: without it a second batch would find the
        first batch's completed ``inc_*`` manifests (same config hash)
        and wrongly reuse them. Give each batch a stable id (stable =
        the same killed batch can resume; new batch = new id).
        """
        base_docs, base_sigs, base_comps = base["docs"], base["signatures"], base["components"]
        prev_ns = self._stage_ns
        self._stage_ns = "inc_" if batch_id is None else f"inc_{batch_id}_"
        try:
            new_docs = self.prepare_docs(new_pages)
            # byte-identity link: restrict the base to rows whose sha
            # appears in the increment (broadcast hash join — ONE
            # columnar scan of base docs, NO shuffle of the base), then
            # group only those tiny matches for the per-sha base rep
            # (min doc_id — identical to exact_groups restricted to the
            # matching shas, without exact_groups' full-corpus shuffle)
            new_sha = new_docs.select("doc_id", "content_sha")
            base_matches = base_docs.select("doc_id", "content_sha").join(
                F.broadcast(new_sha.select("content_sha").distinct()), "content_sha"
            )
            base_reps = base_matches.groupBy("content_sha").agg(
                F.min("doc_id").alias("rep_doc")
            )
            linked = (
                base_reps.join(F.broadcast(new_sha), "content_sha")
                .select("rep_doc", "doc_id")
                .persist()
            )
            # doc ids are xxhash64(url), so the base rep is NOT always
            # the smaller id — canonicalize to keep the doc_a < doc_b
            # invariant every other candidate branch maintains
            link_edges = linked.select(
                F.least("rep_doc", "doc_id").alias("doc_a"),
                F.greatest("rep_doc", "doc_id").alias("doc_b"),
                F.lit("exact").alias("method"),
            )

            new_sigs = self.signatures(new_docs, exclude=linked)
            cands = self.candidates(
                new_docs, new_sigs, base_signatures=base_sigs, link_edges=link_edges
            )
            # union on the common columns: a base written by an older
            # kernel may carry signature columns this one no longer emits
            sigs_all = _common_union(base_sigs, new_sigs)
            docs_all = _common_union(base_docs, new_docs)
            ver = self.verified(cands, sigs_all, docs_all)
            if new_embeddings is not None:
                emb_edges = self.embedding_pairs(new_embeddings, base_embeddings)
                ver = self.merge_verified(ver, emb_edges)

            # merge runs OUTSIDE the stage builder so the merge map is
            # in hand for summary maintenance; the CC it runs is over
            # the tiny contracted graph (the whole point), so the eager
            # recompute on a resumed run is cheap
            merged, comp_map = merge_components(
                base_comps,
                _passed_edges(ver),
                new_docs,
                max_iterations=self.cfg.max_cc_iterations,
                salt_buckets=self.cfg.cc_salt_buckets,
                return_map=True,
            )
            comps = self._stage("components", lambda: merged)
            linked.unpersist()
            # cluster summary: incrementally maintained when the base
            # provides its standing summary (untouched rows stream
            # through; only merge-touched + new components aggregate) —
            # full recompute otherwise
            new_assign = comps.join(
                F.broadcast(new_docs.select("doc_id")), "doc_id", "left_semi"
            )
            if "cluster_summary" in base:
                summary = merge_cluster_summary(
                    base["cluster_summary"], comp_map, new_assign
                )
            else:
                summary = cluster_summary(comps)
            return {
                "docs": docs_all,
                "signatures": sigs_all,
                "candidate_pairs": cands,
                "verified_pairs": ver,
                "components": comps,
                "representatives": select_representatives(comps),
                "cluster_summary": summary,
            }
        finally:
            self._stage_ns = prev_ns
