"""Off-the-clock correctness: cluster recall of the planted duplicates.

Same definition as ``tools/recall_check.py``. The corpus plants
duplicates in groups of ``GROUP_SLOTS`` consecutive page numbers, and the
page number ends every url, so each doc's planted group is read back
from its url. A within-group pair is a truth pair when its exact shingle
Jaccard over the ``docs`` stage's cleaned text is >= tau, or when the two
texts are byte-identical. A truth pair is found when both docs sit in
the same component; a truth doc missing from the components counts as
not found. A component that holds docs of more than one planted
group is over-merged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import GROUP_SLOTS
from gnames_spark.functions.sigkernel import make_shingle_set_udf
from gnames_spark.operators.verify import verify_pairs


def cluster_recall(docs: DataFrame, comps: DataFrame, cfg: DedupConfig) -> dict:
    grp = (F.substring_index("url", "/", -1).cast("long") / GROUP_SLOTS).cast("long")
    docs = docs.select("doc_id", "content_sha", "text", grp.alias("grp")).persist()
    try:
        a, b = docs.alias("a"), docs.alias("b")
        pairs = (
            a.join(b, "grp")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                (F.col("a.content_sha") == F.col("b.content_sha")).alias("byte_equal"),
                F.lit("truth").alias("method"),
            )
        )
        sets = docs.select("doc_id", make_shingle_set_udf(cfg)(F.col("text")).alias("shingle_set"))
        truth = (
            verify_pairs(pairs.select("doc_a", "doc_b", "method"), sets, cfg)
            .join(pairs.select("doc_a", "doc_b", "byte_equal"), ["doc_a", "doc_b"])
            .filter(F.col("passed") | F.col("byte_equal"))
        )
        ca = comps.select(F.col("doc_id").alias("doc_a"), F.col("component_id").alias("_ca"))
        cb = comps.select(F.col("doc_id").alias("doc_b"), F.col("component_id").alias("_cb"))
        row = (
            truth.join(ca, "doc_a", "left")
            .join(cb, "doc_b", "left")
            .agg(
                F.count("*").alias("n_truth"),
                F.count(F.when(F.col("_ca") == F.col("_cb"), 1)).alias("n_found"),
            )
            .collect()[0]
        )
        overmerged = (
            comps.join(docs.select("doc_id", "grp"), "doc_id")
            .groupBy("component_id")
            .agg(F.countDistinct("grp").alias("n_groups"))
            .filter("n_groups > 1")
            .count()
        )
    finally:
        docs.unpersist()
    n_truth, n_found = int(row["n_truth"]), int(row["n_found"])
    return {
        "recall": n_found / n_truth if n_truth else 1.0,
        "n_truth_pairs": n_truth,
        "n_found_pairs": n_found,
        "overmerged_clusters": overmerged,
    }
