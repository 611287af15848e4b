"""Spark-job counts of the fixed-cost paths every increment pays.

A job's driver-side cost (planning, scheduling, a Python worker round
trip) dwarfs the work of a small increment, so these pin the NUMBER of
jobs, read from the status tracker under a job group:

- a checkpoint stage write launches exactly the jobs of the bare data
  write (its lineage comes from the parquet footers, on the driver);
- a small graph's connected components run in a fixed number of jobs,
  however long its paths are (the local finish replaces the star loop);
- the candidate stage, with both posting caps overflowing, launches the
  jobs of its branches, their two overflow records and its count, and
  no job that builds a per-pair flag;
- the verified stage, whose one pair⋈texts crossing runs both the
  Jaccard and the substring check, stays within a fixed job count;
- a second batch of the same plans compiles (almost) no generated
  code: the JVM-wide codegen cache holds a whole batch's classes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from gnames_spark.checkpoint import ParquetCheckpointIO
from gnames_spark.config import DedupConfig
from gnames_spark.corpus import generate_pages
from gnames_spark.operators import components
from gnames_spark.operators.components import connected_components
from gnames_spark.pipeline import DedupPipeline


def _jobs(spark, group: str, fn):
    """(number of Spark jobs ``fn`` launched, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _small_df(spark):
    # one shuffle: under AQE the bare write is two jobs
    return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()


class TestCheckpointJobs:
    def test_write_launches_only_the_data_write(self, spark, tmp_path):
        df = _small_df(spark)
        bare, _ = _jobs(spark, "jc_bare", lambda: df.write.parquet(str(tmp_path / "bare")))
        io = ParquetCheckpointIO(str(tmp_path / "store"), "cfg")
        ckpt, res = _jobs(spark, "jc_ckpt", lambda: io.write(df, "stage"))
        assert bare >= 1
        assert ckpt == bare
        assert res.rows == 7

    def test_write_or_reuse_reads_back_without_a_job(self, spark, tmp_path):
        df = _small_df(spark)
        bare, _ = _jobs(spark, "jc_bare2", lambda: df.write.parquet(str(tmp_path / "bare")))
        io = ParquetCheckpointIO(str(tmp_path / "store"), "cfg")
        n, (got, _) = _jobs(spark, "jc_wor", lambda: io.write_or_reuse(spark, "stage", lambda: df))
        assert n == bare
        # the explicit-schema read-back sees what schema inference would
        assert got.schema == spark.read.parquet(str(tmp_path / "store" / "stage" / "data")).schema


class TestComponentsJobs:
    def _path_jobs(self, spark, n_nodes: int, group: str) -> tuple[int, dict]:
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n_nodes - 1)], "src long, dst long"
        )
        n, rows = _jobs(
            spark, group, lambda: connected_components(edges, max_iterations=50).collect()
        )
        return n, {r["doc_id"]: r["component_id"] for r in rows}

    def test_small_graph_jobs_independent_of_diameter(self, spark):
        assert components.LOCAL_FINISH_MAX_EDGES >= 199
        short, got_short = self._path_jobs(spark, 3, "jc_cc3")
        long_, got_long = self._path_jobs(spark, 200, "jc_cc200")
        assert got_short == {0: 0, 1: 0, 2: 0}
        assert got_long == {i: 0 for i in range(200)}
        # round 0 (normalize + checkpoint), its count, one finishing task
        assert long_ == short <= 6


def _overflowing_corpus(spark):
    """(pipeline, docs, signatures) over 200 generated pages plus 50
    near-duplicates (one word in 40 differs), whose LSH bands and
    anchors fill buckets past both caps."""
    gen = generate_pages(spark, 200, seed=5).drop("html")
    family = []
    for i in range(50):
        words = [f"b{j}" for j in range(320)]
        for p in range(0, len(words), 40):
            words[p] = f"x{i}"
        family.append((f"https://family.example.org/p/{i}", " ".join(words), "en"))
    pages = gen.select("url", "text", "lang").unionByName(
        spark.createDataFrame(family, "url string, text string, lang string")
    )
    pipe = DedupPipeline(spark, DedupConfig(shuffle_partitions=4, bucket_cap=40, anchor_cap=40))
    docs = pipe.prepare_docs(pages)
    return pipe, docs, pipe.signatures(docs)


class TestCandidateStageJobs:
    def test_candidate_stage_job_ceiling(self, spark):
        pipe, docs, sigs = _overflowing_corpus(spark)
        n, cands = _jobs(spark, "jc_cands", lambda: pipe.candidates(docs, sigs))
        assert n <= 24, n
        records = {m.stage: m for m in pipe.metrics.stages}
        for overflow in ("lsh_overflow_buckets", "anchor_overflow"):
            assert records[overflow].extra["dropped_docs"] > 0
        assert {r["method"] for r in cands.select("method").distinct().collect()} == {
            "exact", "lsh", "anchor"
        }
        assert cands.columns == ["doc_a", "doc_b", "method"]


class TestVerifiedStageJobs:
    def test_verified_stage_job_ceiling(self, spark):
        pipe, docs, sigs = _overflowing_corpus(spark)
        cands = pipe.candidates(docs, sigs)
        n, ver = _jobs(spark, "jc_verified", lambda: pipe.verified(cands, sigs, docs))
        rows = ver.select("method", "passed").collect()
        # Jaccard-failed anchor pairs reach the substring check: some
        # pass there (method "suffix"), some fail it
        assert any(r["method"] == "suffix" for r in rows)
        assert any(r["method"] == "anchor" and not r["passed"] for r in rows)
        # 11 jobs; in some runs adaptive execution adds a twelfth
        # (two-stage) job before the lineage cut
        assert n <= 12, n


# perfbench's fullconfig hygiene gates (a copy: tests do not import the
# benchmark)
FULLCONFIG_GATES = {
    "collapse_url_snapshots": True,
    "strip_shared_lines_min_docs": 8,
    "max_dup_line_frac": 0.9,
    "max_top_gram_frac": 0.5,
    "redact_pii": True,
}

# two docs → components batches over the same pages in one new session;
# prints the generated classes each compiled, summed from its per-stage
# records
_TWO_BATCHES = """
import json, sys
from gnames_spark.config import DedupConfig
from gnames_spark.corpus import generate_pages
from gnames_spark.pipeline import DedupPipeline
from gnames_spark.session import get_spark

spark = get_spark(app_name="codegen_reuse", master="local[4]", shuffle_partitions=4)
cfg = DedupConfig(shuffle_partitions=4).with_overrides(**json.loads(sys.argv[1]))
pages = generate_pages(spark, 200, seed=7, partitions=4).drop("html").cache()
pages.count()
compiles = []
for _ in range(2):
    pipe = DedupPipeline(spark, cfg)
    docs = pipe.prepare_docs(pages)
    sigs = pipe.signatures(docs)
    pipe.components(docs, pipe.verified(pipe.candidates(docs, sigs), sigs, docs))
    compiles.append(sum(m.extra.get("codegen_compiles", 0) for m in pipe.metrics.stages))
spark.stop()
print(json.dumps(compiles))
"""


class TestGeneratedCodeReuse:
    def test_second_batch_compiles_almost_nothing(self):
        # a JVM of its own: the codegen cache is JVM-wide, so in the test
        # session earlier tests' plans would already fill it
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
        proc = subprocess.run(
            [sys.executable, "-c", _TWO_BATCHES, json.dumps(FULLCONFIG_GATES)],
            cwd=repo, env={**os.environ, "PYTHONPATH": path},
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        first, second = json.loads(proc.stdout.splitlines()[-1])
        # the batch's working set overflows Spark's default 100-entry
        # cache, which would miss on every class of the second batch
        assert first > 100, first
        assert second <= 10, (first, second)
