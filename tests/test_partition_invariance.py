"""Partition-count invariance of the pipeline's results.

The same pages must give the same docs, candidate pairs, passed edges,
components and representatives — and the same funnel and overflow
records — whatever the shuffle width and the input partitioning. The
corpus keeps html, turns on every hygiene gate and overflows both the
LSH and the anchor caps, so the gates, the capped posting joins and
the overflow accounting all run. Each grid point runs once per module;
the tests compare digests.

The fold-in part checks that three batches folded in one by one equal
one full run. It uses default caps and only the per-doc gates: the
snapshot collapse and shared-line counts are batch-local by design
(``DedupConfig``), and a bucket that overflows only in the combined
corpus keeps its base-run edges (``DedupPipeline.run_incremental``).
"""

from __future__ import annotations

import hashlib
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import PAGES_SCHEMA, generate_pages, render_html
from gnames_spark.pipeline import DedupPipeline

SEED = 5
N = 1200
# the fold-in corpus is smaller: at default caps, this generator's
# boilerplate anchors overflow from ~600 pages on
FOLDIN_N = 400
# (shuffle partitions, input partitions)
GRID = [(1, 1), (3, 7), (8, 13)]
GATES = DedupConfig(
    bucket_cap=40,
    anchor_cap=40,
    blocked_domains=("d002.example.com",),
    collapse_url_snapshots=True,
    strip_shared_lines_min_docs=8,
    max_dup_line_frac=0.3,
    max_top_gram_frac=0.2,
    redact_pii=True,
)
PER_DOC_GATES = DedupConfig(max_dup_line_frac=0.3, max_top_gram_frac=0.2, redact_pii=True)
# pages the per-doc gates act on: repeated lines, a repeated bigram, PII
SPAM_URLS = [f"https://spam.example.org/p/{i}" for i in range(3)]
SPAM_TEXTS = [
    "buy cheap pills now " * 60 + "zero",
    " ".join(f"ok go n{i}" for i in range(200)),
    "write to jane.doe@example.net or call 555-123-4567 " * 3 + " ".join(f"t{i}" for i in range(100)),
]
FAMILY = 100


def _family_text(i: int) -> str:
    """One of FAMILY near-duplicates whose every 40-word line is unique
    (the html renders 40 words a paragraph): it survives the shared-line
    strip and floods LSH buckets past the cap."""
    words = [f"b{j}" for j in range(320)]
    for p in range(0, len(words), 40):
        words[p] = f"x{i}"
    return " ".join(words)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, ts, render_html(t, "extra", "x"), t, "en") for u, ts, t in rows], PAGES_SCHEMA
    )


@pytest.fixture(scope="module")
def corpus(spark):
    """(grid pages, fold-in pages). The grid adds the near-dup family
    and an older capture of a generated url (for the snapshot
    collapse); the fold-in runs neither gate nor small caps."""
    gen = generate_pages(spark, N, seed=SEED)
    first = gen.orderBy("url").first()
    spam = _pages(spark, [(u, first.warc_ts, t) for u, t in zip(SPAM_URLS, SPAM_TEXTS)])
    extra = _pages(
        spark,
        [(f"https://family.example.org/p/{i}", first.warc_ts, _family_text(i)) for i in range(FAMILY)]
        + [(first.url, first.warc_ts.replace(year=first.warc_ts.year - 1), first.text + " older")],
    )
    grid = gen.unionByName(spam).unionByName(extra).localCheckpoint(eager=True)
    foldin = generate_pages(spark, FOLDIN_N, seed=SEED).unionByName(spam)
    return grid, foldin.localCheckpoint(eager=True)


@contextmanager
def _shuffle_partitions(spark, n: int):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _digest(df, cols) -> str:
    rows = sorted(tuple(r) for r in df.select(*cols).collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _records(pipe) -> list[tuple]:
    """The run's metric records without their costs (timings and the
    generated classes compiled, which depend on what the JVM compiled
    before): per-stage rows (the funnel) and the overflow records
    (buckets, dropped docs)."""
    return [
        (m.stage, m.rows, sorted((k, v) for k, v in m.extra.items() if k != "codegen_compiles"))
        for m in pipe.metrics.stages
    ]


def _summary(res) -> dict:
    return {
        "docs": _digest(res["docs"], ["doc_id", "url", "content_sha", "text"]),
        "components": _digest(res["components"], ["doc_id", "component_id"]),
        "representatives": _digest(
            res["representatives"], ["doc_id", "component_id", "rep_doc", "is_representative"]
        ),
    }


@pytest.fixture(scope="module")
def grid_runs(spark, corpus):
    pages = corpus[0]
    out = {}
    for sp, ip in GRID:
        with _shuffle_partitions(spark, sp):
            pipe = DedupPipeline(spark, GATES.with_overrides(shuffle_partitions=sp))
            res = pipe.run(pages.repartition(ip))
            out[(sp, ip)] = {
                **_summary(res),
                "candidate_pairs": _digest(
                    res["candidate_pairs"], ["doc_a", "doc_b", "method"]
                ),
                "passed_edges": _digest(
                    res["verified_pairs"].filter("passed"), ["doc_a", "doc_b", "method"]
                ),
                "records": _records(pipe),
                "doc_urls": {r.url for r in res["docs"].select("url").collect()},
            }
    return out


class TestPartitionInvariance:
    def test_corpus_exercises_gates_and_caps(self, grid_runs):
        run = grid_runs[GRID[0]]
        records = {stage: (rows, dict(extra)) for stage, rows, extra in run["records"]}
        for overflow in ("lsh_overflow_buckets", "anchor_overflow"):
            assert records[overflow][0] > 0 and records[overflow][1]["dropped_docs"] > 0
        urls = run["doc_urls"]
        assert not any("d002.example.com" in u for u in urls)
        assert SPAM_URLS[0] not in urls and SPAM_URLS[1] not in urls  # repetition gate
        assert SPAM_URLS[2] in urls
        assert records["docs"][0] < N + len(SPAM_URLS) + FAMILY

    @pytest.mark.parametrize("point", GRID[1:])
    def test_results_identical_across_partitionings(self, grid_runs, point):
        want, got = grid_runs[GRID[0]], grid_runs[point]
        for key in ("docs", "candidate_pairs", "passed_edges", "components",
                    "representatives", "records"):
            assert got[key] == want[key], key


@pytest.fixture(scope="module")
def foldin_runs(spark, corpus):
    pages = corpus[1]
    cfg = PER_DOC_GATES.with_overrides(shuffle_partitions=4)
    with _shuffle_partitions(spark, 4):
        full_pipe = DedupPipeline(spark, cfg)
        full = full_pipe.run(pages)
        batch = F.pmod(F.xxhash64("url"), F.lit(3))
        res = DedupPipeline(spark, cfg).run(pages.filter(batch == 0))
        for b in (1, 2):
            res = DedupPipeline(spark, cfg).run_incremental(
                pages.filter(batch == b), res, batch_id=f"b{b}"
            )
        return full_pipe, _summary(full), _summary(res)


class TestFoldInInvariance:
    def test_three_batch_fold_in_equals_full_run(self, foldin_runs):
        full_pipe, full, folded = foldin_runs
        overflow = [r for r in _records(full_pipe) if "dropped_docs" in dict(r[2])]
        assert overflow and all(rows == 0 for _, rows, _ in overflow)
        assert folded == full
