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

``--incremental`` and ``--remove`` are the standing-corpus lifecycle of
``standing.py`` (fold-in promote, removal, their guards and the
promoted-batches marker); this module maps arguments onto it, writes
the outputs, runs the curation tail and writes the run record.

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
import hashlib
import json
import sys
from dataclasses import asdict

from pyspark.sql import Window
from pyspark.sql import functions as F


# DedupConfig knobs, one flag each (defaults live in config.py; None =
# keep the default)
_CFG_FLAGS = [
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
]


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
    for flag, typ in _CFG_FLAGS:
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
    for flag, _ in _CFG_FLAGS:
        field = flag.replace("-", "_")
        if getattr(args, field) is not None:
            overrides[field] = getattr(args, field)
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
    mode = "remove" if args.remove else "incremental" if args.incremental else None
    if mode is not None and args.checkpoint_dir is None:
        print(f"--{mode} requires --checkpoint-dir (the standing corpus "
              f"lives there)", file=sys.stderr)
        return 2

    from gnames_spark.pipeline import DedupPipeline
    from gnames_spark.session import get_spark
    from gnames_spark.sources.tables import read_pages
    from gnames_spark.standing import StandingCorpus, StandingCorpusError

    cfg = _config_from_args(args)
    spark = get_spark(
        app_name="gnames_spark_dedup",
        shuffle_partitions=args.shuffle_partitions,
        inherit_master=True,
    )

    # --input is the pages table, or the doc_id table of a --remove
    table = read_pages(spark, args.input, fmt=args.input_format)
    pages = table.limit(args.limit) if args.limit else table
    if "url" not in pages.columns:
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
    )
    out = args.output.rstrip("/")
    if args.preclean_report:
        report = pipe.preclean_report(pages)
        for r in report.collect():
            print(f"{r.gate}: {r.n_in} -> {r.n_out}  ({r.detail})")
        report.coalesce(1).write.mode("overwrite").json(f"{out}/preclean_report")
        return 0

    def read_opt(path):
        return spark.read.parquet(path) if path else None

    try:
        if mode is None:
            res = pipe.run(pages, embeddings=read_opt(args.embeddings))
        elif mode == "remove":
            res = StandingCorpus(pipe).remove(table)
        else:
            corpus = StandingCorpus(pipe)
            batch_id = args.batch_id or hashlib.sha256(args.input.encode()).hexdigest()[:12]
            done = batch_id in corpus.promoted_batches()
            res = corpus.fold_in(
                pages, batch_id,
                new_embeddings=read_opt(args.embeddings),
                base_embeddings=read_opt(args.base_embeddings),
            )
            if done:
                print(f"batch {batch_id} already promoted; standing corpus is "
                      f"current", file=sys.stderr)
    except StandingCorpusError as e:
        print(f"--{mode}: {e}", file=sys.stderr)
        return 2

    for name in ("components", "representatives", "cluster_summary",
                 "verified_pairs"):
        if name in res:  # not for an already-promoted batch's re-run
            res[name].write.mode("overwrite").parquet(f"{out}/{name}")

    if args.mix_alpha is not None or args.pack_budget is not None:
        rc = _curation_tail(args, res["docs"], res["representatives"], out)
        if rc:
            return rc

    line = json.dumps(_run_record(spark, pipe, cfg), default=str)
    # Spark writer (not driver-local open()) so s3a://hdfs:// outputs work
    spark.createDataFrame([(line,)], "json string").coalesce(1).write.mode(
        "overwrite"
    ).text(f"{out}/run")
    print(line)
    return 0


def _curation_tail(args: argparse.Namespace, docs, reps, out: str) -> int:
    """Kept representatives → temperature mix → concat-and-cut packing
    layout (the training-set deliverable); returns the exit code."""
    from gnames_spark.operators.packing import pack_sequences
    from gnames_spark.operators.sampling import (
        temperature_mix,
        temperature_repeat,
    )

    kept = reps.filter(F.col("is_representative")).select("doc_id")
    # lang is optional in the input contract; the mix needs it, the
    # packer does not
    if args.mix_alpha is not None and "lang" not in docs.columns:
        print("--mix-alpha needs a lang column on the input",
              file=sys.stderr)
        return 2
    lang_cols = ["lang"] if "lang" in docs.columns else []
    train = docs.join(kept, "doc_id").select("doc_id", *lang_cols, "text")
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
    train.drop("text").write.mode("overwrite").parquet(f"{out}/training_set")
    if args.pack_budget is not None:
        layout = pack_sequences(
            train, args.pack_budget, args.pack_shards, salt=args.pack_salt
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
    return 0


def _run_record(spark, pipe, cfg) -> dict:
    from gnames_spark.session import engine_confs

    return {
        "run_id": pipe.metrics.run_id,
        "config": asdict(cfg),
        "config_hash": cfg.config_hash(),
        # effective engine confs (lineage: library defaults yield to
        # submit-line --conf; this records which value actually ran)
        "engine_confs": engine_confs(spark),
        "stages": [
            {"stage": m.stage, "rows": m.rows, "secs": round(m.secs, 3), **m.extra}
            for m in pipe.metrics.stages
        ],
    }


if __name__ == "__main__":
    sys.exit(main())
