"""The benchmark's staged calls do the work of DedupPipeline.run.

The benchmark calls the pipeline's stages one by one so that each call is
a layer span; on a few hundred docs that sequence must give the same
component assignment as ``DedupPipeline.run``. Also pins the fold-in
slicing: standing corpus and increments split the pages by url.
"""

import os
import shutil

import pytest

import run as perfbench


@pytest.fixture(scope="module")
def bench():
    name = f"tests-{os.getpid()}"
    out = perfbench.isolate(name)
    b = perfbench.Bench(perfbench.WORKLOADS["batch_fullconfig"], 5, 1, out)
    b.start_session()
    yield b
    b.shutdown()
    shutil.rmtree(out, ignore_errors=True)


def _assignment(comps):
    return sorted((r["doc_id"], r["component_id"]) for r in comps.collect())


@pytest.mark.parametrize("workload", ["batch_fullconfig", "foldin"])
def test_staged_calls_match_run(bench, workload):
    from gnames_spark.config import DedupConfig
    from gnames_spark.pipeline import DedupPipeline

    wl = perfbench.WORKLOADS[workload]
    bench.wl = wl
    bench.cfg = DedupConfig(shuffle_partitions=bench.host["cpus"]).with_overrides(**wl.gates)
    pages = bench.corpus(300, seed=5)
    if wl.slices:
        pages = pages.drop("_slice")
    staged = bench.batch_op(pages)
    full = DedupPipeline(bench.spark, bench.cfg, enable_substring=wl.substring).run(pages)
    got, want = _assignment(staged["components"]), _assignment(full["components"])
    assert len(got) == 300
    assert len({c for _, c in got}) < 300  # the corpus plants duplicates
    assert got == want
    pages.unpersist()


def test_foldin_slices_partition_pages_by_url(bench):
    from collections import Counter

    from pyspark.sql import functions as F

    from gnames_spark.corpus import GROUP_SLOTS

    wl = bench.wl = perfbench.WORKLOADS["foldin"]
    n = wl.slices * wl.slice_pages + 200
    pages = bench.corpus(n, seed=5)
    rows = pages.select("url", F.xxhash64("url").alias("doc_id"), "_slice").collect()
    sizes = Counter(r["_slice"] for r in rows)
    assert sizes == {**{k: wl.slice_pages for k in range(wl.slices)}, -1: 200}
    # doc ids are xxhash64(url): one slice per doc id
    assert len({r["doc_id"] for r in rows}) == n
    # the hash scatters planted groups: some group spans base and increments
    groups = {}
    for r in rows:
        groups.setdefault(int(r["url"].rsplit("/", 1)[1]) // GROUP_SLOTS, set()).add(r["_slice"] == -1)
    assert any(len(v) == 2 for v in groups.values())
    pages.unpersist()
