"""Large-scale dup-pair recall gate: pipeline clusters vs planted truth.

The pytest recall gate (tests/test_operators.py::test_recall_gate) runs
the brute-force oracle at a few hundred docs; this tool evidences the
BASELINE "dup-pair recall >= 0.99 at identical shingle/signature
config" at 100k+ docs, where hot-bucket caps, salting and the full
candidate union actually engage.

Oracle: the synthetic corpus plants duplicates in 5-doc groups
(corpus.py — exact / near / substring / boilerplate roles), so ground
truth is *within-group* pairs, exactly the reference's golden
cluster-assignment fixtures (`/root/reference/pkg/testdata/lexgroup*.json`)
scaled up. A within-group pair belongs to the truth set iff its EXACT
shingle Jaccard >= tau (computed with the production kernel on the pair
list — no all-pairs blow-up) or the two texts are byte-identical. The
brute-force all-pairs oracle is infeasible here by design: boilerplate
chrome shingles are shared by ~10% of the corpus, which is precisely
the skew the pipeline's bucket caps exist for.

A truth pair counts as FOUND iff both docs land in the same connected
component (cluster-assignment recall, per north_rule — this also
credits pairs recovered transitively, e.g. exact copies joined through
their representative's star edges).

Cross-group merges are reported separately (with the planted structure
they indicate either a real near-dup coincidence or over-merging).

Usage: python tools/recall_check.py [n_docs] → prints the result as JSON
on stdout and writes no file; regenerate the committed 500k-doc
evidence with ``python tools/recall_check.py 500000 > RECALL.json``.
"""

from __future__ import annotations

import json
import os
import sys

os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")  # sandbox-only shuffle scratch
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import GROUP_SLOTS, generate_pages
from gnames_spark.functions.sigkernel import make_shingle_set_udf
from gnames_spark.operators.verify import verify_pairs
from gnames_spark.pipeline import DedupPipeline
from gnames_spark.session import get_spark


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 120000
    spark = get_spark(app_name="recall_check")
    cfg = DedupConfig(shuffle_partitions=32)
    pages = generate_pages(spark, n_docs, seed=42, partitions=32).drop("html")
    pages.cache().count()

    t0 = time.monotonic()
    pipe = DedupPipeline(spark, cfg)  # all branches incl. substring
    res = pipe.run(pages)
    pipe_secs = time.monotonic() - t0

    docs = res["docs"]
    comps = res["components"]

    # recover the planted group id from the url (deterministic corpus
    # layout: .../p/{orig_id:09d}, group = orig_id // GROUP_SLOTS)
    with_group = docs.select(
        "doc_id",
        "content_sha",
        "text",
        (F.substring_index("url", "/", -1).cast("long") / GROUP_SLOTS)
        .cast("long")
        .alias("grp"),
    ).persist()

    a = with_group.alias("a")
    b = with_group.alias("b")
    in_group_pairs = (
        a.join(b, "grp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.content_sha") == F.col("b.content_sha")).alias("byte_equal"),
            F.lit("truth").alias("method"),
        )
        .persist()
    )

    su = make_shingle_set_udf(cfg)
    sets = with_group.select("doc_id", su(F.col("text")).alias("shingle_set"))
    scored = verify_pairs(
        in_group_pairs.select("doc_a", "doc_b", "method"), sets, cfg
    ).join(in_group_pairs.select("doc_a", "doc_b", "byte_equal"), ["doc_a", "doc_b"])
    truth = scored.filter(F.col("passed") | F.col("byte_equal")).select(
        "doc_a", "doc_b"
    ).persist()
    n_truth = truth.count()

    ca = comps.select(F.col("doc_id").alias("doc_a"), F.col("component_id").alias("_ca"))
    cb = comps.select(F.col("doc_id").alias("doc_b"), F.col("component_id").alias("_cb"))
    joined = truth.join(ca, "doc_a").join(cb, "doc_b")
    n_found = joined.filter(F.col("_ca") == F.col("_cb")).count()
    recall = n_found / n_truth if n_truth else 1.0

    # clusters spanning >1 planted group (over-merge indicator)
    spans = (
        comps.join(with_group.select("doc_id", "grp"), "doc_id")
        .groupBy("component_id")
        .agg(F.countDistinct("grp").alias("n_groups"))
        .filter("n_groups > 1")
        .count()
    )

    out = {
        "n_docs": n_docs,
        "config_hash": cfg.config_hash(),
        "jaccard_threshold": cfg.jaccard_threshold,
        "n_truth_pairs": n_truth,
        "n_truth_pairs_recovered": n_found,
        "recall": round(recall, 6),
        "gate": ">= 0.99",
        "passed": recall >= 0.99,
        "clusters_spanning_groups": spans,
        "pipeline_secs": round(pipe_secs, 2),
        "docs_per_sec": round(n_docs / pipe_secs, 1),
    }
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
