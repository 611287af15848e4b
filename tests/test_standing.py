"""Standing-corpus lifecycle (gnames_spark/standing.py) under crashes.

Every write boundary of a fold-in promote (docs, signatures,
verified_pairs, components, the promoted-batches marker) and of a
removal (signatures, verified_pairs, docs, components) is made to raise
once. The crashed store must refuse a new batch (after a crashed
fold-in, a removal too) wherever the guards say so; re-running the same
operation and then folding the next batch must leave a coherent store
whose components equal a fresh :meth:`DedupPipeline.run` over the
surviving pages.

The base store is built once per module and copied per case."""

import shutil

import pytest
from pyspark.sql import functions as F

from gnames_spark.config import DedupConfig
from gnames_spark.corpus import generate_pages
from gnames_spark.pipeline import DedupPipeline

# caps lifted so a fold-in equals a fresh run exactly (see test_incremental)
CFG = DedupConfig(shuffle_partitions=8, bucket_cap=100_000, anchor_cap=100_000)
CLI_CFG = ["--bucket-cap", "100000", "--anchor-cap", "100000",
           "--shuffle-partitions", "8"]


class _Crash(Exception):
    pass


@pytest.fixture(scope="module")
def corpus_pages(spark):
    """base (half the pages), two batches b1 and b2, and the removal:
    every fifth base doc."""
    pages = generate_pages(spark, 120, seed=43).cache()
    part = F.pmod(F.xxhash64("url"), F.lit(4))
    base = pages.filter(part < 2).cache()
    rm = base.select(F.xxhash64("url").alias("doc_id")).filter(
        F.pmod("doc_id", F.lit(5)) == 0
    ).cache()
    return {
        "all": pages,
        "base": base,
        "b1": pages.filter(part == 2).cache(),
        "b2": pages.filter(part == 3).cache(),
        "rm": rm,
    }


@pytest.fixture(scope="module")
def base_store(spark, corpus_pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("standing") / "base")
    DedupPipeline(spark, CFG, checkpoint_root=root).run(corpus_pages["base"])
    return root


def _assign(df):
    return {(r["doc_id"], r["component_id"]) for r in df.collect()}


@pytest.fixture(scope="module")
def want_folded(spark, corpus_pages):
    """base ∪ b1 ∪ b2, fresh."""
    return _assign(DedupPipeline(spark, CFG).run(corpus_pages["all"])["components"])


@pytest.fixture(scope="module")
def want_removed(spark, corpus_pages):
    """(base − removed) ∪ b1, fresh."""
    p = corpus_pages
    keep = p["base"].join(p["rm"].withColumnRenamed("doc_id", "_id"),
                          F.xxhash64("url") == F.col("_id"), "left_anti")
    return _assign(DedupPipeline(spark, CFG).run(keep.unionByName(p["b1"]))["components"])


def _corpus(spark, root):
    from gnames_spark.standing import StandingCorpus

    return StandingCorpus(DedupPipeline(spark, CFG, checkpoint_root=root))


def _crash_at(monkeypatch, corpus, boundary):
    """Make ``corpus``'s write of ``boundary`` (a stage or 'marker') raise."""
    if boundary == "marker":
        def fail(_batches):
            raise _Crash("marker")

        monkeypatch.setattr(corpus, "_mark_promoted", fail)
        return
    write = corpus.io.write

    def failing_write(df, stage):
        if stage == boundary:
            raise _Crash(stage)
        return write(df, stage)

    monkeypatch.setattr(corpus.io, "write", failing_write)


def _rows(corpus):
    return corpus.io.manifest_rows("docs"), corpus.io.manifest_rows("components")


def _assert_refused(spark, root, corpus_pages, removal):
    """A new batch (and, if ``removal``, a removal) is refused; the
    store is untouched."""
    from gnames_spark.standing import StandingCorpusError

    c = _corpus(spark, root)
    before = _rows(c)
    with pytest.raises(StandingCorpusError):
        c.fold_in(corpus_pages["b2"], "b_new")
    if removal:
        with pytest.raises(StandingCorpusError):
            c.remove(corpus_pages["rm"])
    assert _rows(c) == before


def _assert_healed(spark, root, want):
    c = _corpus(spark, root)
    n_docs, n_comp = _rows(c)
    assert n_docs == n_comp == len(want)
    assert _assign(c.current()["components"]) == want


# a crashed fold-in blocks every other operation until it is re-run
FOLD_BOUNDARIES = ("docs", "signatures", "verified_pairs", "components", "marker")
# a crashed removal blocks a new batch only once its docs write landed
# (docs < components); before that the store is coherent
REMOVE_BOUNDARIES = {
    "signatures": False, "verified_pairs": False, "docs": False,
    "components": True,
}


@pytest.mark.parametrize("boundary", FOLD_BOUNDARIES)
def test_fold_in_crash_heals(spark, monkeypatch, tmp_path, base_store,
                             corpus_pages, want_folded, boundary):
    root = str(tmp_path / "ckpt")
    shutil.copytree(base_store, root)
    crashing = _corpus(spark, root)
    _crash_at(monkeypatch, crashing, boundary)
    with pytest.raises(_Crash):
        crashing.fold_in(corpus_pages["b1"], "b1")
    _assert_refused(spark, root, corpus_pages, removal=True)
    _corpus(spark, root).fold_in(corpus_pages["b1"], "b1")
    _corpus(spark, root).fold_in(corpus_pages["b2"], "b2")
    _assert_healed(spark, root, want_folded)
    assert _corpus(spark, root).promoted_batches() == ["b1", "b2"]


@pytest.mark.parametrize("boundary", list(REMOVE_BOUNDARIES))
def test_remove_crash_heals(spark, monkeypatch, tmp_path, base_store,
                            corpus_pages, want_removed, boundary):
    root = str(tmp_path / "ckpt")
    shutil.copytree(base_store, root)
    crashing = _corpus(spark, root)
    _crash_at(monkeypatch, crashing, boundary)
    with pytest.raises(_Crash):
        crashing.remove(corpus_pages["rm"])
    if REMOVE_BOUNDARIES[boundary]:
        _assert_refused(spark, root, corpus_pages, removal=False)
    _corpus(spark, root).remove(corpus_pages["rm"])
    _corpus(spark, root).fold_in(corpus_pages["b1"], "b1")
    _assert_healed(spark, root, want_removed)


def test_marker_window_crash_refuses_new_batch_then_heals(
    spark, tmp_path, base_store, corpus_pages, want_folded
):
    """b1's promote lands every stage but crashes before the marker. The
    manifests agree, yet b2 must be refused until b1 is re-run (b1's
    inc_b1_* stages predate anything folded on top). After the re-run,
    b2 folds and the store equals a fresh run."""
    from gnames_spark.checkpoint import ParquetCheckpointIO
    from gnames_spark.cli import main

    root = str(tmp_path / "ckpt")
    shutil.copytree(base_store, root)
    paths = {}
    for b in ("b1", "b2"):
        paths[b] = str(tmp_path / f"{b}.parquet")
        corpus_pages[b].write.parquet(paths[b])

    def fold(b):
        return main(["--input", paths[b], "--output", str(tmp_path / f"o_{b}"),
                     "--checkpoint-dir", root, "--incremental",
                     "--batch-id", b] + CLI_CFG)

    assert fold("b1") == 0
    # the crash: everything but the marker landed
    (tmp_path / "ckpt" / "_promoted_batches.json").unlink()
    assert fold("b2") == 2
    assert fold("b1") == 0
    assert fold("b2") == 0
    io = ParquetCheckpointIO(root, CFG.config_hash())
    assert io.manifest_rows("docs") == io.manifest_rows("components")
    assert _assign(io.read(spark, "components")) == want_folded


def test_rerun_keeps_components_of_batch_folded_on_top(
    spark, monkeypatch, tmp_path, base_store, corpus_pages, want_folded
):
    """A store in which b2 already folded on top of b1's marker-window
    crash (possible for a store written by a version without the
    unpromoted-batch guard): re-running b1 must leave the components,
    which already hold b1, as they are."""
    root = str(tmp_path / "ckpt")
    shutil.copytree(base_store, root)
    crashing = _corpus(spark, root)
    _crash_at(monkeypatch, crashing, "marker")
    with pytest.raises(_Crash):
        crashing.fold_in(corpus_pages["b1"], "b1")
    unguarded = _corpus(spark, root)
    monkeypatch.setattr(unguarded, "_pending", set)
    unguarded.fold_in(corpus_pages["b2"], "b2")
    _corpus(spark, root).fold_in(corpus_pages["b1"], "b1")
    _assert_healed(spark, root, want_folded)
    assert set(_corpus(spark, root).promoted_batches()) == {"b1", "b2"}


def test_cli_remove_reads_input_format(spark, tmp_path, base_store, corpus_pages):
    """--remove reads its doc_id table through --input-format like every
    other mode (here a JSON table)."""
    from gnames_spark.checkpoint import ParquetCheckpointIO
    from gnames_spark.cli import main

    root = str(tmp_path / "ckpt")
    shutil.copytree(base_store, root)
    rm_p = str(tmp_path / "rm.json")
    corpus_pages["rm"].write.json(rm_p)
    io = ParquetCheckpointIO(root, CFG.config_hash())
    n_left = io.manifest_rows("docs") - corpus_pages["rm"].count()
    assert main(["--input", rm_p, "--input-format", "json",
                 "--output", str(tmp_path / "o"), "--checkpoint-dir", root,
                 "--remove"] + CLI_CFG) == 0
    assert (io.manifest_rows("docs"), io.manifest_rows("components")) == (n_left, n_left)
