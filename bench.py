"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

N is $SPARK_GRAFT_CPUS when set, else the CPUs this process may run on
(``session.host_cpus``).

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...,
   "engine_confs": {conf: value, ...},
   "scaling": {...}}   # scaling block only when SPARK_GRAFT_SCALING=1

The headline is the flagship dedup pipeline (extract-less corpus →
signatures → exact+LSH+anchor candidates → verify → components →
representatives) over the sf documents table, plus one query per major
operator family. Each timing includes full materialization (count/write),
not plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

# sandbox: single shared /tmp disk serializes shuffle I/O; tmpfs is safe
# here because bench datasets are far below RAM (see session.py)
os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gnames_spark.session import engine_confs, get_spark, host_cpus  # noqa: E402


def _bench_queries(spark, sf_dir):
    import __spark_entry__ as entry
    from gnames_spark.config import DedupConfig
    from gnames_spark.pipeline import DedupPipeline
    from pyspark.sql import functions as F

    # warm up JVM + Python UDF workers off the clock (one tiny Arrow job);
    # reuse a library kernel so no local type hints are needed (string
    # annotations from `from __future__ import annotations` don't resolve
    # inside pandas_udf inference)
    from gnames_spark.functions.sigkernel import make_signature_udf

    warm = spark.range(256).select(F.concat(F.lit("warm up text "), F.col("id")).alias("text"))
    # collect, not count: a count prunes the UDF projection away
    warm.select(make_signature_udf(DedupConfig())("text")).collect()
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    qs = entry.queries()
    picked = [
        "dedup_minhash_lsh",
        "dedup_components",
        "dedup_incremental_components",
        "dedup_simhash_pairs",
        "dedup_substring_pairs",
        "dedup_exact_groups",
        "q1_pricing_summary",
        "j1_multiway_join",
        "w2_best_with_ties",
        "events_sessionization",
        "emb_topk",
        "emb_sim_pairs",
        "emb_ann_pairs",
        "emb_ann_topk",
        # tight operating point (min_cosine=0.9, ~14 bands): the config
        # a production screen runs, vs emb_ann_topk's tau=0.4 worst case
        "emb_ann_topk_t9",
        "emb_ivf_topk",
        "text_token_counts",
        "text_fingerprint",
        "s6_faceted_search",
        # round-3 late additions (crawl hygiene + corpus statistics):
        # line-granular boilerplate dedup, URL snapshot collapse, and
        # the two-pass corpus-trained surprisal score
        "dedup_line_dedup",
        "dedup_url_snapshot",
        "text_unigram_surprisal",
        # round-4 capstone: components -> quality-aware keep ->
        # temperature mix -> sequence packing, one composed query
        "dedup_curation_end_to_end",
        # round-5: upsampling mix + tokenizer-count packing
        "dedup_temperature_repeat",
        "text_pack_tokens_col",
    ]
    timings: dict[str, float] = {}
    for name in picked:
        t0 = time.monotonic()
        df = qs[name](spark, sf_dir)
        n = df.count()
        timings[name] = round(time.monotonic() - t0, 3)

    # flagship: full pipeline end-to-end on the documents corpus
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            "text",
            "lang",
            F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        )
    )
    n_docs = docs.count()
    cfg = DedupConfig(shuffle_partitions=host_cpus())
    t0 = time.monotonic()
    res = DedupPipeline(spark, cfg).run(docs)
    res["components"].count()
    res["representatives"].filter("is_representative").count()
    pipeline_sec = round(time.monotonic() - t0, 3)
    timings["dedup_full_pipeline"] = pipeline_sec

    # throughput at amortizing scale: the sf corpora are small enough
    # (500-5000 docs) that the pipeline number above is dominated by
    # fixed per-job costs; synthetic corpora (same generator as the
    # scaling bench) show the sustained docs/sec the engine actually
    # delivers. Two tiers: 60k (kept for cross-round comparability)
    # and 120k (where fixed costs amortize — the 500k recall run
    # measured 3,168 docs/s end-to-end, RECALL.json)
    from gnames_spark.corpus import generate_pages

    n_syn = int(os.environ.get("SPARK_GRAFT_SYN_DOCS", "60000"))
    pages = generate_pages(spark, n_syn, seed=42, partitions=cfg.shuffle_partitions)
    pages.cache().count()  # corpus generation off the clock
    t0 = time.monotonic()
    syn = DedupPipeline(spark, cfg, enable_substring=False).run(pages)
    syn["components"].count()
    syn_sec = round(time.monotonic() - t0, 3)
    pages.unpersist()
    timings["dedup_pipeline_60k_synthetic"] = syn_sec
    syn_dps = round(n_syn / syn_sec, 1) if syn_sec else None

    n_big = int(os.environ.get("SPARK_GRAFT_SYN_DOCS_BIG", "120000"))
    big_dps = None
    if n_big > 0:
        pages = generate_pages(spark, n_big, seed=43, partitions=cfg.shuffle_partitions)
        pages.cache().count()
        t0 = time.monotonic()
        syn = DedupPipeline(spark, cfg, enable_substring=False).run(pages)
        syn["components"].count()
        big_sec = round(time.monotonic() - t0, 3)
        pages.unpersist()
        timings["dedup_pipeline_120k_synthetic"] = big_sec
        big_dps = round(n_big / big_sec, 1) if big_sec else None

    # full PRODUCTION config at the same tier: crawl-hygiene preclean
    # (URL snapshot collapse → C4 line strip → Gopher repetition gates →
    # PII redaction) AND the winnowing substring screen, all ON — the
    # one end-to-end number the "LLM data pipeline" claim rests on.
    # Per-stage decomposition (pipe.metrics) goes into the JSON so the
    # substring screen's isolated cost is a measurement, not a design
    # argument.
    full_dps = None
    full_stages = None
    funnel_dps = None
    if n_big > 0 and os.environ.get("SPARK_GRAFT_SKIP_FULLCFG") != "1":
        fcfg = cfg.with_overrides(
            collapse_url_snapshots=True,
            strip_shared_lines_min_docs=8,
            max_dup_line_frac=0.9,
            max_top_gram_frac=0.5,
            redact_pii=True,
        )
        pages = generate_pages(spark, n_big, seed=43, partitions=cfg.shuffle_partitions).drop("html")
        pages.cache().count()
        t0 = time.monotonic()
        pipe = DedupPipeline(spark, fcfg)  # substring ON (default)
        syn = pipe.run(pages)
        syn["components"].count()
        full_sec = round(time.monotonic() - t0, 3)
        timings["dedup_pipeline_120k_fullconfig"] = full_sec
        full_dps = round(n_big / full_sec, 1) if full_sec else None

        # the WHOLE training-data funnel in one number: on top of the
        # same fullconfig run, keep one representative per cluster,
        # temperature-mix the survivors (alpha=0.5 over lang), lay the
        # mix out as budget-token training sequences, and materialize
        # the shard stats — pages in -> packed layout out.
        from gnames_spark.operators.packing import pack_sequences, pack_stats
        from gnames_spark.operators.sampling import temperature_mix

        t1 = time.monotonic()
        kept = (
            syn["representatives"]
            .filter(F.col("is_representative"))
            .select("doc_id")
        )
        train = syn["docs"].join(kept, "doc_id").select("doc_id", "lang", "text")
        mixed = temperature_mix(train, "lang", 0.5, salt="bench")
        layout = pack_sequences(mixed, budget=2048, n_shards=64, salt="bench")
        pack_stats(layout, 2048).collect()
        tail_sec = round(time.monotonic() - t1, 3)
        pages.unpersist()
        timings["curation_tail_120k_mix_pack"] = tail_sec
        funnel_sec = round(full_sec + tail_sec, 3)
        funnel_dps = round(n_big / funnel_sec, 1) if funnel_sec else None
        full_stages = {m.stage: round(m.secs, 2) for m in pipe.metrics.stages}
        full_stages["curation_tail"] = round(tail_sec, 2)
    return (timings, n_docs, pipeline_sec, syn_dps, big_dps, full_dps,
            full_stages, funnel_dps)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    spark = get_spark(app_name="gnames_spark_bench", master=f"local[{cpus}]")
    confs = engine_confs(spark)
    try:
        (timings, n_docs, pipeline_sec, syn_dps, big_dps,
         full_dps, full_stages, funnel_dps) = _bench_queries(spark, sf_dir)
    finally:
        spark.stop()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "dedup pipeline + operator battery wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "docs_per_sec": round(n_docs / pipeline_sec, 1) if pipeline_sec else None,
        "synthetic_60k_docs_per_sec": syn_dps,
        "synthetic_120k_docs_per_sec": big_dps,
        "fullconfig_120k_docs_per_sec": full_dps,
        "funnel_120k_docs_per_sec": funnel_dps,
        "fullconfig_120k_stages_sec": full_stages,
        "cpus": cpus,
        # the session tuning the run ran under (the CLI run record's dict)
        "engine_confs": confs,
    }

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        # scaling evidence is produced by tools/scaling_bench.py (separate
        # JVMs per parallelism level); embed its last result if present
        try:
            with open("BENCH_SCALING.json") as f:
                out["scaling"] = json.load(f)
        except OSError:
            pass

    print(json.dumps(out))


if __name__ == "__main__":
    main()
