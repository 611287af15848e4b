"""The standing corpus: the checkpoint store's ``docs``, ``signatures``,
cumulative ``verified_pairs`` and ``components`` that each new batch
folds into and each removal deletes from.

:class:`StandingCorpus` is the one owner of that lifecycle: the fold-in
promote, the removal, their guards and the promoted-batches marker
(``<checkpoint root>/_promoted_batches.json``, a JSON list of batch ids).

Each stage write is atomic (checkpoint.py), but an operation writes four
stages and is not transactional across them. Every crash window heals by
re-running the SAME operation:

- **Fold-in promote** (docs → signatures → verified_pairs → components,
  then the marker): a standing stage is written only if it does not
  already carry any of the batch's doc ids (for ``verified_pairs``: a
  pair touching a batch doc). A re-run writes exactly the stages that
  had not landed, and never puts the batch's merged assignment over
  components that already hold it. A batch named in the marker never
  folds again.
- **Removal** (signatures → verified_pairs → docs → components):
  re-running the transforms over already-rewritten tables is a no-op (no
  signature keyed by a removed id is left to transfer, no edge touching
  one is left to filter).

Until the crashed operation is re-run, every other one is refused. The
store holds one assignment row per doc, so on a coherent store the
``docs`` and ``components`` manifests record the same row count: a
fold-in crash leaves docs > components, a removal crash docs <
components. A fold-in that crashed before its promote changed nothing
standing, but its ``inc_<id>_*`` stages are only valid against the
corpus they were built on, so it too blocks other batches and removals
until it is re-run.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gnames_spark.operators.incremental import (
    remove_docs,
    transfer_orphaned_signatures,
)
from gnames_spark.operators.representatives import (
    cluster_summary,
    select_representatives,
)
from gnames_spark.pipeline import DedupPipeline, _common_union, _passed_edges

# the standing corpus: its stages, and the marker listing promoted batches
STAGES = ("docs", "signatures", "verified_pairs", "components")
MARKER = "_promoted_batches.json"


class StandingCorpusError(Exception):
    """The store refuses the operation; nothing was written."""


class StandingCorpus:
    """Fold-in, removal and the current state of the standing corpus in
    ``pipe``'s checkpoint store."""

    def __init__(self, pipe: DedupPipeline):
        if pipe.io is None:
            raise ValueError("the standing corpus lives in a checkpoint "
                             "store: build the pipeline with checkpoint_root")
        self.pipe = pipe
        self.io = pipe.io
        self.marker = os.path.join(self.io.root, MARKER)

    def _read(self, stage: str) -> DataFrame:
        return self.io.read(self.pipe.spark, stage)

    def current(self) -> dict[str, DataFrame]:
        """Docs, components, representatives and cluster summary as the
        store holds them."""
        comps = self._read("components")
        return {
            "docs": self._read("docs"),
            "components": comps,
            "representatives": select_representatives(comps),
            "cluster_summary": cluster_summary(comps),
        }

    def promoted_batches(self) -> list[str]:
        if not os.path.exists(self.marker):
            return []
        with open(self.marker) as f:
            return json.load(f)

    def _mark_promoted(self, batches: list[str]) -> None:
        with open(self.marker + ".tmp", "w") as f:
            json.dump(batches, f)
        os.replace(self.marker + ".tmp", self.marker)

    def _require_ready(self) -> None:
        for stage in STAGES:
            if not self.io.is_complete(stage):
                raise StandingCorpusError(
                    f"standing stage '{stage}' is missing or was built under "
                    f"a different config hash in {self.io.root}; run the "
                    f"base pipeline first"
                )

    def _pending(self) -> set[str]:
        """Batches whose fold-in wrote ``inc_<id>_docs`` but never
        reached the marker."""
        started = {
            d[len("inc_"):-len("_docs")] for d in os.listdir(self.io.root)
            if d.startswith("inc_") and d.endswith("_docs")
            and len(d) > len("inc__docs") and self.io.is_complete(d)
        }
        return started - set(self.promoted_batches())

    def _check_coherent(self, batch_id: str | None) -> None:
        """Refuse a store another operation left half-done; only the
        re-run of that operation proceeds. ``batch_id`` is the fold-in's
        batch, None for a removal.

        Half-done is either of: a batch whose fold-in started but was
        never promoted (its ``inc_<id>_*`` stages were built against the
        corpus as it stood then, so nothing may change it first), or
        docs and components manifests that disagree. On a mismatch a
        fold-in proceeds only to heal its own batch, a removal only on
        docs < components (a crashed removal)."""
        pending = self._pending() - {batch_id}
        if pending:
            raise StandingCorpusError(
                f"the fold-in of batch {', '.join(sorted(pending))} started "
                f"but was never promoted; re-run that batch id first (or "
                f"delete its inc_<id>_* stages to abandon it)"
            )
        n_docs = self.io.manifest_rows("docs")
        n_comp = self.io.manifest_rows("components")
        heals = (
            n_docs < n_comp if batch_id is None
            else self.io.is_complete(f"inc_{batch_id}_docs")
        )
        if n_docs == n_comp or heals:
            return
        crashed = (
            "a fold-in's promote crashed between stages; re-run that batch id"
            if n_docs > n_comp
            else "a removal crashed before its components write; re-run that removal"
        )
        raise StandingCorpusError(
            f"standing corpus is mid-write (docs manifest rows={n_docs}, "
            f"components manifest rows={n_comp}): {crashed} to heal it first"
        )

    def _carries(self, stage: str, ids: DataFrame) -> bool:
        """Whether standing ``stage`` holds a row of any doc in ``ids``."""
        cols = ("doc_a", "doc_b") if stage == "verified_pairs" else ("doc_id",)
        touched = self._read(stage).select(F.explode(F.array(*cols)).alias("doc_id"))
        return touched.join(F.broadcast(ids), "doc_id", "left_semi").count() > 0

    def fold_in(
        self,
        pages: DataFrame,
        batch_id: str,
        new_embeddings: DataFrame | None = None,
        base_embeddings: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Fold the batch ``pages`` into the standing corpus
        (:meth:`DedupPipeline.run_incremental` under the stage namespace
        ``inc_<batch_id>_``) and promote the result. Reuse ``batch_id``
        to resume or heal a crashed fold-in; a promoted batch is a no-op.
        Returns :meth:`current` plus the batch's ``verified_pairs``."""
        self._require_ready()
        self._check_coherent(batch_id)
        promoted = self.promoted_batches()
        if batch_id in promoted:
            return self.current()
        base = {s: self._read(s) for s in ("docs", "signatures", "components")}
        res = self.pipe.run_incremental(
            pages, base, batch_id=batch_id,
            new_embeddings=new_embeddings, base_embeddings=base_embeddings,
        )
        inc = f"inc_{batch_id}_"
        promote = {  # in write order
            "docs": _common_union(self._read("docs"), self._read(inc + "docs")),
            "signatures": _common_union(
                self._read("signatures"), self._read(inc + "signatures")
            ),
            "verified_pairs": _common_union(
                self._read("verified_pairs"), res["verified_pairs"]
            ),
            "components": res["components"],
        }
        ids = self._read(inc + "docs").select("doc_id")
        for stage, df in promote.items():
            if not self._carries(stage, ids):
                self.io.write(df, stage)
        self._mark_promoted(promoted + [batch_id])
        return {**self.current(), "verified_pairs": res["verified_pairs"]}

    def remove(self, ids: DataFrame) -> dict[str, DataFrame]:
        """Delete the docs of ``ids`` (a ``doc_id`` table): affected
        components re-cluster over the surviving verified edges, and
        orphaned signatures transfer to the min surviving byte-identical
        copy. Idempotent; re-run the same removal to heal a crash.
        Returns :meth:`current` plus the standing ``verified_pairs``."""
        self._require_ready()
        self._check_coherent(None)
        cfg = self.pipe.cfg
        rm = ids.select("doc_id").distinct()
        docs, sigs, ver, comps = (self._read(s) for s in STAGES)
        # in write order (the module docstring says why this order)
        new = {
            "signatures": transfer_orphaned_signatures(docs, sigs, rm),
            "verified_pairs": (
                ver.join(F.broadcast(rm.withColumnRenamed("doc_id", "doc_a")), "doc_a", "left_anti")
                .join(F.broadcast(rm.withColumnRenamed("doc_id", "doc_b")), "doc_b", "left_anti")
            ),
            "docs": docs.join(F.broadcast(rm), "doc_id", "left_anti"),
            "components": remove_docs(
                comps, _passed_edges(ver), rm,
                max_iterations=cfg.max_cc_iterations,
                salt_buckets=cfg.cc_salt_buckets,
            ),
        }
        # materialize every derived table BEFORE the first write: they
        # all read the standing stage files lazily, and each write swaps
        # those files out (tmp dir + rename) — without the eager cut the
        # second write would read through the first one's deleted files
        new = {stage: df.localCheckpoint(eager=True) for stage, df in new.items()}
        for stage, df in new.items():
            self.io.write(df, stage)
        return {**self.current(), "verified_pairs": self._read("verified_pairs")}
