"""spark-submit entry point for the dedup pipeline (SURVEY M7).

The north_rule ships the job "via spark-submit --py-files to clusters
of N and 4N executors"; this module is that surface. Typical cluster
invocation:

    python tools/make_pyfiles.py dist/gnames_spark.zip
    spark-submit --master yarn --deploy-mode client \
        --num-executors 1000 --executor-cores 4 \
        --conf spark.sql.shuffle.partitions=8192 \
        --py-files dist/gnames_spark.zip \
        jobs/dedup_job.py \
        --input s3://bucket/crawl/pages --output s3://bucket/crawl/dedup \
        --checkpoint-dir /mnt/shared/crawl/ckpt --cc-checkpoint-rounds

``--checkpoint-dir`` must be a DRIVER-VISIBLE POSIX path (local disk or
a shared mount): the parquet checkpoint store keeps its manifests and
the promoted-batches marker as driver-local files, and
ParquetCheckpointIO fails fast on object-store/HDFS URIs (the data
would land under the URI while the manifests split-brained into a
local directory). Use client deploy-mode so the marker outlives the
job. Object-store-backed checkpoints and cluster deploy-mode (where the
driver container, and any local marker, is ephemeral) need another
checkpoint backend; a backend must implement ``ParquetCheckpointIO``'s
interface (checkpoint.py). This repository ships none.

Design rules:
- The script never chooses a master, executor topology, or driver
  sizing — ``get_spark(inherit_master=True)`` leaves all of that to the
  spark-submit command line (the reference is a single-process service
  configured by env/yaml, ``/root/reference/pkg/config/env.go:12-65``;
  here the cluster manager owns the process model).
- Every signature-affecting knob (shingle_k, num_perms, bands, rows,
  threshold, winnowing) is a CLI flag mapping 1:1 onto ``DedupConfig``,
  so the recall-gate config is pinned per run; the effective config and
  per-stage metrics are written next to the outputs for the lineage /
  metrics clause of the north_rule.
- Outputs are written with Spark writers only (no driver-local I/O), so
  ``--output`` may be any Hadoop-visible URI (s3a://, hdfs://, file:/).
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict

from pyspark.sql import Window
from pyspark.sql import functions as F


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="gnames-spark-dedup",
        description="Near-duplicate detection + clustering over web pages",
    )
    p.add_argument("--input", required=True,
                   help="pages table: parquet path, or catalog table name "
                        "with --input-format iceberg (url, html|text[, lang])")
    p.add_argument("--input-format", default="parquet",
                   help="parquet (path) | iceberg (catalog table; needs the "
                        "iceberg-spark-runtime jar on the cluster)")
    p.add_argument("--output", required=True,
                   help="output root; writes <out>/{components,representatives,"
                        "cluster_summary,verified_pairs,run} parquet/json")
    p.add_argument("--checkpoint-dir", default=None,
                   help="stage checkpoint root (enables resume; see checkpoint.py)")
    p.add_argument("--cc-checkpoint-rounds", action="store_true",
                   help="route each CC round through the reliable checkpoint "
                        "store (survives executor loss mid-loop)")
    p.add_argument("--incremental", action="store_true",
                   help="treat --input as a NEW batch and fold it into the "
                        "standing corpus in --checkpoint-dir (requires a "
                        "completed base run there under the SAME config). "
                        "The merged docs/signatures/components are promoted "
                        "back into the store as the new standing corpus, so "
                        "batches chain: run base once, then one --incremental "
                        "run per arriving batch")
    p.add_argument("--batch-id", default=None,
                   help="stable id namespacing this increment's checkpoint "
                        "stages (inc_<id>_*). Reuse the id to RESUME a killed "
                        "batch; use a fresh id per new batch. Defaults to a "
                        "hash of --input")
    p.add_argument("--run-id", default=None)
    p.add_argument("--limit", type=int, default=None,
                   help="optional row cap for smoke runs")
    p.add_argument("--remove", action="store_true",
                   help="treat --input as a table with a doc_id column "
                        "and DELETE those docs from the standing corpus "
                        "in --checkpoint-dir: affected components "
                        "re-cluster over surviving verified edges, "
                        "orphaned signatures transfer to the min "
                        "surviving byte-identical copy. Idempotent — "
                        "re-run the same removal to heal a crash "
                        "mid-write. Upsert = --remove of the old ids + "
                        "--incremental of the new batch")
    p.add_argument("--embeddings", default=None,
                   help="parquet path of a (doc_id, embedding) table — "
                        "enables the embedding-cosine modality (batch: "
                        "the corpus table; incremental: the INCREMENT's "
                        "table)")
    p.add_argument("--base-embeddings", default=None,
                   help="incremental only: the standing corpus's "
                        "embedding table (caller-managed — the promote "
                        "machinery maintains docs/signatures/components, "
                        "not embedding tables)")
    p.add_argument("--no-substring", action="store_true")
    p.add_argument("--route-overflow-to-lcs", action="store_true")
    # DedupConfig knobs (defaults live in config.py; None = keep default)
    for flag, typ in [
        ("shingle-k", int), ("num-perms", int), ("bands", int),
        ("rows-per-band", int), ("minhash-seed", int),
        ("jaccard-threshold", float), ("min-substring-len", int),
        ("winnow-window", int), ("bucket-cap", int), ("anchor-cap", int),
        ("min-shared-anchors", int), ("shuffle-partitions", int),
        ("max-cc-iterations", int), ("cc-salt-buckets", int),
        ("lang-filter", str),
        # crawl-hygiene pre-clean (prepare_docs; see DedupConfig)
        ("strip-shared-lines-min-docs", int),
        ("max-dup-line-frac", float), ("max-top-gram-frac", float),
    ]:
        p.add_argument(f"--{flag}", type=typ, default=None)
    p.add_argument("--collapse-url-snapshots", action="store_true",
                   help="keep only the newest (warc_ts, url) capture per "
                        "canonical URL before dedup (needs warc_ts)")
    p.add_argument("--redact-pii", action="store_true",
                   help="replace e-mails/IPs/phone numbers with typed "
                        "tokens before hashing (functions/pii.py)")
    p.add_argument("--mix-alpha", type=float, default=None,
                   help="temperature-alpha language mix over the kept "
                        "representatives (0=equalize strata, 1=keep all); "
                        "writes <out>/training_set")
    p.add_argument("--mix-salt", default="mix")
    p.add_argument("--mix-mode", choices=("sample", "repeat"),
                   default="sample",
                   help="sample = temperature DOWN-sampling (head strata "
                        "drop docs); repeat = UP-sampling (head stratum "
                        "kept exactly once, low-resource strata repeated "
                        "by deterministic integer+fractional copies; "
                        "training_set and training_layout gain a "
                        "0-based copy column)")
    p.add_argument("--mix-max-rate", type=float, default=100_000.0,
                   help="repeat-mode guard: the largest per-stratum "
                        "repeat rate allowed (the repeat array costs "
                        "8 B x rate per row in executor memory); at "
                        "alpha=0 the head/tail count ratio IS the "
                        "largest rate — raise this knowingly for "
                        "extremely skewed corpora")
    p.add_argument("--pack-budget", type=int, default=None,
                   help="tokens per training sequence; packs the training "
                        "set concat-and-cut and writes <out>/training_layout")
    p.add_argument("--pack-shards", type=int, default=64)
    p.add_argument("--pack-salt", default="pack")
    p.add_argument("--blocked-domains", default=None,
                   help="comma-separated domain blocklist; pages whose "
                        "URL host matches a listed domain (exactly or "
                        "as a subdomain) are dropped before any other "
                        "gate")
    p.add_argument("--preclean-report", action="store_true",
                   help="dry-run the configured hygiene gates over "
                        "--input, print + write the per-gate "
                        "(n_in, n_out, detail) audit to "
                        "<output>/preclean_report, and exit without "
                        "running the dedup stages")
    return p


def _config_from_args(args: argparse.Namespace):
    from gnames_spark.config import DedupConfig

    overrides = {}
    for field in (
        "shingle_k", "num_perms", "bands", "rows_per_band", "minhash_seed",
        "jaccard_threshold", "min_substring_len",
        "winnow_window", "bucket_cap", "anchor_cap", "min_shared_anchors",
        "shuffle_partitions", "max_cc_iterations", "cc_salt_buckets",
        "lang_filter", "strip_shared_lines_min_docs",
        "max_dup_line_frac", "max_top_gram_frac",
    ):
        v = getattr(args, field)
        if v is not None:
            overrides[field] = v
    if args.collapse_url_snapshots:
        overrides["collapse_url_snapshots"] = True
    if args.redact_pii:
        overrides["redact_pii"] = True
    if args.blocked_domains:
        overrides["blocked_domains"] = tuple(
            d.strip() for d in args.blocked_domains.split(",") if d.strip()
        )
    return DedupConfig(**overrides)


def main(argv: list[str] | None = None) -> int:
    args = build_arg_parser().parse_args(argv)
    if args.mix_mode != "sample" and args.mix_alpha is None:
        # fail fast like the other tail guards: a mode with no alpha
        # would silently skip mixing and exit 0 without any repeats
        print("--mix-mode repeat needs --mix-alpha", file=sys.stderr)
        return 2

    from gnames_spark.pipeline import DedupPipeline
    from gnames_spark.session import get_spark
    from gnames_spark.sources.tables import read_pages

    cfg = _config_from_args(args)
    spark = get_spark(
        app_name="gnames_spark_dedup",
        shuffle_partitions=args.shuffle_partitions,
        inherit_master=True,
    )

    pages = None
    if not args.remove:
        pages = read_pages(spark, args.input, fmt=args.input_format)
    if args.limit and pages is not None:
        pages = pages.limit(args.limit)
    if pages is not None and "url" not in pages.columns:
        # documents-table shape (doc_id, text, ...): synthesize the url
        # the same way bench.py does so prepare_docs sees its contract
        pages = pages.withColumn(
            "url", F.concat(F.lit("doc://"), F.col("doc_id"))
        )

    pipe = DedupPipeline(
        spark,
        cfg,
        checkpoint_root=args.checkpoint_dir,
        run_id=args.run_id,
        enable_substring=not args.no_substring,
        cc_checkpoint_rounds=args.cc_checkpoint_rounds,
        route_overflow_to_lcs=args.route_overflow_to_lcs,
    )
    if args.preclean_report:
        report = pipe.preclean_report(pages)
        rows = report.collect()
        for r in rows:
            print(f"{r.gate}: {r.n_in} -> {r.n_out}  ({r.detail})")
        report.coalesce(1).write.mode("overwrite").json(
            args.output.rstrip("/") + "/preclean_report"
        )
        return 0

    if args.remove:
        from gnames_spark.operators.incremental import (
            remove_docs,
            transfer_orphaned_signatures,
        )
        from gnames_spark.operators.representatives import (
            cluster_summary,
            select_representatives,
        )

        if pipe.io is None:
            print("--remove requires --checkpoint-dir (the standing corpus "
                  "lives there)", file=sys.stderr)
            return 2
        for stage in ("docs", "signatures", "components", "verified_pairs"):
            if not pipe.io.is_complete(stage):
                print(f"--remove: standing stage '{stage}' is missing or was "
                      f"built under a different config hash in "
                      f"{args.checkpoint_dir}", file=sys.stderr)
                return 2
        # crash-signature guard: a crashed INCREMENT promote leaves
        # docs > components manifest rows (append landed, merge didn't)
        # — removing on that state would compound the incoherence, so
        # refuse and ask for the batch re-run. A crashed REMOVAL leaves
        # docs < components (docs rewrite landed, components didn't) —
        # re-running the SAME removal heals it, so that direction is
        # allowed through. The two signatures are disjoint.
        n_docs_m = pipe.io.manifest_rows("docs")
        n_comp_m = pipe.io.manifest_rows("components")
        if n_docs_m > n_comp_m:
            print(f"--remove: standing corpus is mid-promote (docs manifest "
                  f"rows={n_docs_m} > components rows={n_comp_m}); re-run "
                  f"the crashed incremental batch before removing",
                  file=sys.stderr)
            return 2
        rm = spark.read.parquet(args.input).select("doc_id").distinct()
        docs = pipe.io.read(spark, "docs")
        sigs = pipe.io.read(spark, "signatures")
        comps = pipe.io.read(spark, "components")
        ver = pipe.io.read(spark, "verified_pairs")
        edges = ver.filter("passed").select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        new_assign = remove_docs(
            comps, edges, rm,
            max_iterations=cfg.max_cc_iterations,
            salt_buckets=cfg.cc_salt_buckets,
        )
        new_docs = docs.join(F.broadcast(rm), "doc_id", "left_anti")
        new_sigs = transfer_orphaned_signatures(docs, sigs, rm)
        ra = rm.select(F.col("doc_id").alias("doc_a"))
        rb = rm.select(F.col("doc_id").alias("doc_b"))
        new_ver = (
            ver.join(F.broadcast(ra), "doc_a", "left_anti")
            .join(F.broadcast(rb), "doc_b", "left_anti")
        )
        # materialize every derived table BEFORE the first write: they
        # all read the standing stage files lazily, and each write swaps
        # those files out (tmp dir + rename) — without the eager cut the
        # second write would read through the first one's deleted files
        new_docs = new_docs.localCheckpoint(eager=True)
        new_sigs = new_sigs.localCheckpoint(eager=True)
        new_ver = new_ver.localCheckpoint(eager=True)
        new_assign = new_assign.localCheckpoint(eager=True)
        # write order makes every crash window heal by re-running the
        # SAME removal: signatures/verified first (re-running their
        # transforms on already-rewritten tables is a no-op — no sig row
        # keyed by a removed id remains to transfer, no edge touching a
        # removed id remains to filter), docs next, components LAST so a
        # crash in between shows the docs<components manifest signature
        # the guard above lets through for a healing re-run
        pipe.io.write(new_sigs, "signatures")
        pipe.io.write(new_ver, "verified_pairs")
        pipe.io.write(new_docs, "docs")
        pipe.io.write(new_assign, "components")
        final_comps = pipe.io.read(spark, "components")
        res = {
            "components": final_comps,
            "representatives": select_representatives(final_comps),
            "cluster_summary": cluster_summary(final_comps),
            "verified_pairs": pipe.io.read(spark, "verified_pairs"),
        }
    elif args.incremental:
        import hashlib
        import os

        if pipe.io is None:
            print("--incremental requires --checkpoint-dir (the standing "
                  "corpus lives there)", file=sys.stderr)
            return 2
        for stage in ("docs", "signatures", "components"):
            if not pipe.io.is_complete(stage):
                print(f"--incremental: base stage '{stage}' is missing or was "
                      f"built under a different config hash in "
                      f"{args.checkpoint_dir}; run the base pipeline first",
                      file=sys.stderr)
                return 2
        batch_id = args.batch_id or hashlib.sha256(args.input.encode()).hexdigest()[:12]
        # cross-stage coherence guard: the promote below is idempotent
        # per stage but not transactional ACROSS stages — a crash
        # between the docs and components promotes leaves a standing
        # corpus where every stage is individually complete yet the doc
        # populations disagree. Folding a DIFFERENT batch in that
        # window would produce components missing the crashed batch's
        # docs; re-running the SAME batch heals (the append-if-absent
        # promote completes the missing stages), so the guard compares
        # manifest row counts (docs must equal components — one
        # assignment row per doc; no table scan) and refuses new
        # batches until the crashed one is re-run.
        n_docs_m = pipe.io.manifest_rows("docs")
        n_comp_m = pipe.io.manifest_rows("components")
        healing = pipe.io.is_complete(f"inc_{batch_id}_docs")
        if n_docs_m != n_comp_m and not healing:
            print(f"--incremental: standing corpus is mid-promote "
                  f"(docs manifest rows={n_docs_m}, components "
                  f"manifest rows={n_comp_m}); a prior batch's promote "
                  f"crashed between stages. Re-run THAT batch id to "
                  f"heal before folding batch {batch_id}",
                  file=sys.stderr)
            return 2
        # idempotence marker: a batch promoted into the standing corpus
        # must never fold twice (a crash AFTER promote but BEFORE the
        # caller saw success, or a blind re-run, would otherwise pair the
        # increment against itself). Written atomically LAST, so a crash
        # mid-promote re-runs the promote from the (complete, reusable)
        # inc_<batch_id>_* stages — stage writes are themselves atomic
        # and rewriting them is idempotent.
        marker = os.path.join(args.checkpoint_dir, "_promoted_batches.json")
        promoted: list[str] = []
        if os.path.exists(marker):
            with open(marker) as f:
                promoted = json.load(f)
        if batch_id in promoted:
            print(f"batch {batch_id} already promoted; standing corpus is "
                  f"current", file=sys.stderr)
            res = None
        else:
            base = {
                s: pipe.io.read(spark, s)
                for s in ("docs", "signatures", "components")
            }
            res = pipe.run_incremental(
                pages,
                base,
                batch_id=batch_id,
                new_embeddings=(
                    spark.read.parquet(args.embeddings) if args.embeddings else None
                ),
                base_embeddings=(
                    spark.read.parquet(args.base_embeddings)
                    if args.base_embeddings
                    else None
                ),
            )
            # promote: the merged tables become the standing corpus the
            # NEXT batch folds into. Each stage is individually
            # idempotent so a crash between stage writes is safe on
            # re-run (the inc_<batch_id>_* stages are complete and
            # reused, so the fold itself does not recompute):
            # - docs/signatures: append the increment rows ONLY if the
            #   standing table doesn't already contain them (stage
            #   writes are atomic, so it's all-or-none per stage). On
            #   Iceberg this whole rewrite is a plain APPEND.
            # - components: rewriting the merged assignment is
            #   idempotent by construction (re-merging the same edges
            #   into an already-merged assignment changes nothing). On
            #   Iceberg this is MERGE INTO over the changed rows only.
            inc_ns = f"inc_{batch_id}_"
            for stage in ("docs", "signatures"):
                cur = pipe.io.read(spark, stage)
                inc_part = pipe.io.read(spark, inc_ns + stage)
                common = [c for c in cur.columns if c in inc_part.columns]
                n_present = cur.join(
                    F.broadcast(inc_part.select("doc_id")), "doc_id", "left_semi"
                ).count()
                if n_present == 0:
                    pipe.io.write(
                        cur.select(common).unionByName(inc_part.select(common)),
                        stage,
                    )
                res[stage] = pipe.io.read(spark, stage)
            # verified_pairs: the standing edge set must stay CUMULATIVE
            # (a later --remove re-clusters affected components over it;
            # stale base-only edges would silently split merged
            # clusters). Every inc pair touches >= 1 increment doc
            # (one-sided generation), so present == any standing pair
            # touching this batch's docs — the same append-if-absent
            # idempotence as docs/signatures.
            inc_ids = pipe.io.read(spark, inc_ns + "docs").select("doc_id")
            cur_ver = pipe.io.read(spark, "verified_pairs")
            n_present = (
                cur_ver.join(
                    F.broadcast(inc_ids.withColumnRenamed("doc_id", "doc_a")),
                    "doc_a", "left_semi",
                ).count()
                + cur_ver.join(
                    F.broadcast(inc_ids.withColumnRenamed("doc_id", "doc_b")),
                    "doc_b", "left_semi",
                ).count()
            )
            if n_present == 0:
                common = [
                    c for c in cur_ver.columns if c in res["verified_pairs"].columns
                ]
                pipe.io.write(
                    cur_ver.select(common).unionByName(
                        res["verified_pairs"].select(common)
                    ),
                    "verified_pairs",
                )
            pipe.io.write(res["components"], "components")
            res["components"] = pipe.io.read(spark, "components")
            with open(marker + ".tmp", "w") as f:
                json.dump(promoted + [batch_id], f)
            os.replace(marker + ".tmp", marker)
        if res is None:
            from gnames_spark.operators.representatives import (
                cluster_summary,
                select_representatives,
            )

            comps = pipe.io.read(spark, "components")
            res = {
                "components": comps,
                "representatives": select_representatives(comps),
                "cluster_summary": cluster_summary(comps),
                "verified_pairs": None,
            }
    else:
        res = pipe.run(
            pages,
            embeddings=(
                spark.read.parquet(args.embeddings) if args.embeddings else None
            ),
        )

    out = args.output.rstrip("/")
    for name in ("components", "representatives", "cluster_summary",
                 "verified_pairs"):
        if res.get(name) is None:  # already-promoted incremental re-run
            continue
        res[name].write.mode("overwrite").parquet(f"{out}/{name}")

    if args.mix_alpha is not None or args.pack_budget is not None:
        # curation tail: kept representatives → temperature mix →
        # concat-and-cut packing layout (the training-set deliverable)
        from gnames_spark.operators.packing import pack_sequences
        from gnames_spark.operators.sampling import (
            temperature_mix,
            temperature_repeat,
        )

        docs_tbl = res.get("docs")
        if docs_tbl is None:
            if pipe.io is None or not pipe.io.is_complete("docs"):
                print("--mix-alpha/--pack-budget need the docs table: run "
                      "with --checkpoint-dir or in batch mode",
                      file=sys.stderr)
                return 2
            docs_tbl = pipe.io.read(spark, "docs")
        reps = res.get("representatives")
        if reps is None:  # already-promoted incremental re-run
            if pipe.io is None or not pipe.io.is_complete("components"):
                print("--mix-alpha/--pack-budget need the components "
                      "table: run with --checkpoint-dir or in batch mode",
                      file=sys.stderr)
                return 2
            from gnames_spark.operators.representatives import (
                select_representatives,
            )

            reps = select_representatives(pipe.io.read(spark, "components"))
        kept = reps.filter(F.col("is_representative")).select("doc_id")
        # lang is optional in the input contract; the mix needs it, the
        # packer does not
        if args.mix_alpha is not None and "lang" not in docs_tbl.columns:
            print("--mix-alpha needs a lang column on the input",
                  file=sys.stderr)
            return 2
        lang_cols = ["lang"] if "lang" in docs_tbl.columns else []
        train = docs_tbl.join(kept, "doc_id").select(
            "doc_id", *lang_cols, "text"
        )
        if args.mix_alpha is not None:
            if args.mix_mode == "repeat":
                # upsampling: copies of a doc are interchangeable, so
                # the packer's duplicate-id handling (disjoint offsets,
                # deterministic multiset) covers the repeated rows
                train = temperature_repeat(
                    train, "lang", args.mix_alpha, salt=args.mix_salt,
                    max_rate=args.mix_max_rate,
                )
            else:
                train = temperature_mix(
                    train, "lang", args.mix_alpha, salt=args.mix_salt
                )
        # consumed twice (training_set write + the packer): cut lineage
        # once instead of re-running the join + mix per consumer
        train = train.localCheckpoint(eager=True)
        train.drop("text").write.mode("overwrite").parquet(
            f"{out}/training_set"
        )
        if args.pack_budget is not None:
            layout = pack_sequences(
                train,
                args.pack_budget,
                args.pack_shards,
                salt=args.pack_salt,
            )
            if "copy" in train.columns:
                # the copies of one doc share its shard and sit at
                # consecutive offsets; numbering them in offset order
                # keys the layout by (doc_id, copy) like training_set,
                # so a join of the two artifacts is 1:1, not n² per doc
                layout = layout.withColumn(
                    "copy",
                    F.row_number().over(
                        Window.partitionBy("doc_id").orderBy("start_offset")
                    ) - 1,
                )
            layout.write.mode("overwrite").parquet(f"{out}/training_layout")

    from gnames_spark.session import _TUNING_CONFS

    run_doc = {
        "run_id": pipe.metrics.run_id,
        "config": asdict(cfg),
        "config_hash": cfg.config_hash(),
        # effective engine confs (lineage: library defaults yield to
        # submit-line --conf; this records which value actually ran)
        "engine_confs": {
            k: spark.conf.get(k, "unset") for k in sorted(_TUNING_CONFS)
        },
        "stages": [
            {"stage": m.stage, "rows": m.rows, "secs": round(m.secs, 3)}
            for m in pipe.metrics.stages
        ],
    }
    line = json.dumps(run_doc, default=str)
    # Spark writer (not driver-local open()) so s3a://hdfs:// outputs work
    spark.createDataFrame([(line,)], "json string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{out}/run")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
