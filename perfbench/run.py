"""Benchmark of the gnames_spark near-duplicate engine.

Runs one workload against the public API of ``gnames_spark``, checks the
result against the corpus's planted duplicate truth, and prints as the
last line of stdout one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``::

    python3 perfbench/run.py --workload batch_fullconfig --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload twice in one process, first untraced and then with the Spark
event log on and one job group per public stage call, and reports the
per-layer metrics; the two passes also check that the funnel counts and
the component count repeat for the seed. Workloads, metrics and the
layer-to-metric map are described in ``perfbench/DESIGN.md``.

The run writes only under ``.perfbench_out/`` at the checkout root: the
Spark scratch, the checkpoint store, the event log, ``result.json`` and
``spans.json``. The exit code is 0 when every check passed, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import procstat  # noqa: E402

RECALL_GATE = 0.99
WARMUP_PAGES = 64
SETUP_REPEATS = 3
STAGE_LAYERS = ("docs", "signatures", "candidate_pairs", "verified_pairs", "components")
LAYERS = STAGE_LAYERS + ("representatives", "curation_tail", "increment")
MEASURES = (
    "wall_s", "rows", "jobs", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
    "py_worker_s", "py_bytes", "task_skew", "steal_frac",
)
METHODS = ("exact", "lsh", "simhash", "anchor")
OVERFLOW_RECORDS = ("lsh_overflow_buckets", "simhash_overflow_chunks", "anchor_overflow")
FUNNEL = tuple(f"candidate_pairs.{m}" for m in METHODS) + (
    "candidate_pairs.overflow_docs", "verified_pairs.passed", "verified_pairs.lcs_passed",
)
# bench.py's hygiene-gate values: the production configuration
FULLCONFIG_GATES = {
    "collapse_url_snapshots": True,
    "strip_shared_lines_min_docs": 8,
    "max_dup_line_frac": 0.9,
    "max_top_gram_frac": 0.5,
    "redact_pii": True,
}


@dataclass(frozen=True)
class Workload:
    """What defines a workload; every other knob is a library default."""

    pages: int
    keep_html: bool
    gates: dict = field(default_factory=dict)
    substring: bool = True
    # fold-in only: `slices` increments of `slice_pages` pages each, cut
    # from the pages by url hash; the other pages are the standing corpus
    slices: int = 0
    slice_pages: int = 0


WORKLOADS = {
    "batch_fullconfig": Workload(pages=1200, keep_html=False, gates=FULLCONFIG_GATES),
    # html kept and the substring screen off: the knobs of the planned
    # batch_html workload, so a hygiene-gate or LCS change predicts no
    # change here
    "foldin": Workload(pages=2000, keep_html=True, substring=False, slices=8, slice_pages=100),
}


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    cpus = len(os.sched_getaffinity(0))
    return {
        "cpus": cpus,
        "mem_total_mb": mem_kb // 1024,
        # a quarter of the machine, whole GiB: the JVM's heap ceiling
        "driver_memory_gb": max(1, mem_kb // 2**20 // 4),
        "python": platform.python_version(),
    }


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end.

    With a SparkContext attached, a span given a ``group`` also tags every
    Spark job it starts with that job group, and records the host's steal
    share over its interval."""

    def __init__(self):
        self.origin = time.monotonic()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, group: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": group if self.sc is not None else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if rec["group"]:
            self.sc.setJobGroup(rec["group"], name, False)
            host0 = procstat.host_jiffies()
        rec["start"] = time.monotonic() - self.origin
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.origin
            self._stack.pop()
            if rec["group"]:
                rec["steal_frac"] = procstat.host_delta(host0, procstat.host_jiffies())["steal_frac"]
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer, "", False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]


class Bench:
    def __init__(self, wl: Workload, seed: int, seconds: int, out: Path):
        self.wl, self.seed, self.seconds, self.out = wl, seed, seconds, out
        self.host = host_info()
        self.tracer = Tracer()
        self.spark = None
        from gnames_spark.config import DedupConfig

        self.cfg = DedupConfig(shuffle_partitions=self.host["cpus"]).with_overrides(**wl.gates)

    # -- session -----------------------------------------------------
    def start_session(self, eventlog_dir: Path | None = None) -> float:
        from gnames_spark.session import get_spark

        conf = {
            "spark.driver.memory": f"{self.host['driver_memory_gb']}g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.out / "warehouse"),
        }
        if eventlog_dir is not None:
            eventlog_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir.as_uri(),
                "spark.eventLog.compress": "false",
            })
        n = self.host["cpus"]
        with self.tracer.span("session") as rec:
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
            )
        self.tracer.sc = self.spark.sparkContext if eventlog_dir is not None else None
        return Tracer.wall(rec)

    def stop_session(self) -> None:
        self.tracer.sc = None
        self.spark.stop()
        self.spark = None

    # -- inputs --------------------------------------------------------
    def corpus(self, n_pages: int, seed: int):
        from pyspark.sql import functions as F

        from gnames_spark.corpus import generate_pages

        pages = generate_pages(self.spark, n_pages, seed=seed, partitions=self.host["cpus"])
        if not self.wl.keep_html:
            pages = pages.drop("html")
        if self.wl.slices:
            # rank by url hash: the first `slices * slice_pages` pages form
            # the increments, the rest the standing corpus (-1). Doc ids
            # are xxhash64(url), so slices never share a doc id, and the
            # hash scatters planted duplicate groups across slices.
            from pyspark.sql import Window

            rank = F.row_number().over(
                Window.orderBy(F.xxhash64("url", F.lit("perfbench-slice")), "url")
            ) - 1
            pages = pages.withColumn(
                "_slice",
                F.when(rank < self.wl.slices * self.wl.slice_pages,
                       (rank / self.wl.slice_pages).cast("int")).otherwise(-1),
            )
        pages = pages.cache()
        pages.count()
        return pages

    # -- operations ------------------------------------------------------
    def batch_op(self, pages) -> dict:
        """The stages of DedupPipeline.run called one by one, then
        representatives and the curation tail: one op span whose children
        are the layer spans, each its own job group."""
        from pyspark.sql import functions as F

        from gnames_spark.operators.packing import pack_sequences, pack_stats
        from gnames_spark.operators.representatives import cluster_summary, select_representatives
        from gnames_spark.operators.sampling import temperature_mix
        from gnames_spark.pipeline import DedupPipeline

        tr = self.tracer
        with tr.span("batch") as op:
            def layer(name):
                return tr.span(name, f"{name}/{op['id']}")

            pipe = DedupPipeline(self.spark, self.cfg, enable_substring=self.wl.substring)
            with layer("docs"):
                docs = pipe.prepare_docs(pages)
            with layer("signatures"):
                sigs = pipe.signatures(docs)
            with layer("candidate_pairs"):
                cands = pipe.candidates(docs, sigs)
            with layer("verified_pairs"):
                ver = pipe.verified(cands, sigs, docs)
            with layer("components"):
                comps = pipe.components(docs, ver)
            with layer("representatives") as r:
                reps = select_representatives(comps)
                r["rows"] = reps.filter("is_representative").count()
                cluster_summary(comps).count()
            with layer("curation_tail") as r:
                kept = reps.filter(F.col("is_representative")).select("doc_id")
                train = docs.join(kept, "doc_id").select("doc_id", "lang", "text")
                mixed = temperature_mix(train, "lang", 0.5, salt="bench")
                layout = pack_sequences(mixed, budget=2048, n_shards=64, salt="bench")
                r["rows"] = len(pack_stats(layout, 2048).collect())
        rows = {m.stage: m.rows for m in pipe.metrics.stages}
        for rec in tr.spans[op["id"]:]:
            if rec["name"] in STAGE_LAYERS:
                rec["rows"] = rows[rec["name"]]
        return {"pipe": pipe, "docs": docs, "candidate_pairs": cands, "verified_pairs": ver,
                "components": comps, "ns": ""}

    def fold_op(self, pipe, base: dict, inc_pages, k: int) -> dict:
        with self.tracer.span("increment", f"increment/{k}") as r:
            out = pipe.run_incremental(inc_pages, base, batch_id=f"b{k}")
            out["components"].count()
        ns = f"inc_b{k}_"
        secs = {m.stage[len(ns):]: m.secs for m in pipe.metrics.stages if m.stage.startswith(ns)}
        r["inc_secs"] = {s: secs.get(s, 0.0) for s in STAGE_LAYERS}
        r["rows"] = next(m.rows for m in pipe.metrics.stages if m.stage == ns + "docs")
        return {**out, "pipe": pipe, "ns": ns}

    # -- one measured pass ---------------------------------------------
    def measure(self, setup_repeats: int, warm_up: bool, store: Path,
                n_ops: int | None = None) -> dict:
        """Set up (warm-up, corpus, standing corpus), run timed operations
        for ``self.seconds`` and at least one of them, or exactly
        ``n_ops`` of them, then check the result off the clock."""
        from pyspark.sql import functions as F

        from gnames_spark.pipeline import DedupPipeline

        wl, tr = self.wl, self.tracer
        setup: dict = {}
        if warm_up:
            # a tiny run through the same staged calls, off the clock
            with tr.span("warm_up") as r:
                tiny = self.corpus(WARMUP_PAGES, self.seed + 7919)
                self.batch_op(tiny)
                tiny.unpersist()
            setup["warm_up_s"] = Tracer.wall(r)
        pages, setup["corpus_s"] = None, []
        for _ in range(setup_repeats):
            if pages is not None:
                pages.unpersist()
            with tr.span("corpus") as r:
                pages = self.corpus(wl.pages, self.seed)
            setup["corpus_s"].append(Tracer.wall(r))
        pipe = base = None
        if wl.slices:
            shutil.rmtree(store, ignore_errors=True)
            with tr.span("standing_corpus") as r:
                pipe = DedupPipeline(self.spark, self.cfg, checkpoint_root=str(store),
                                     enable_substring=wl.substring)
                base = pipe.run(pages.filter("_slice < 0").drop("_slice"))
            setup["standing_corpus_s"] = Tracer.wall(r)

        ops: list[dict] = []
        results: list[dict] = []
        error = None
        max_ops = n_ops or wl.slices or 10**6
        meter = procstat.TreeMeter().start()
        with tr.span("timed") as timed:
            while len(ops) < max_ops and (
                not ops or n_ops or time.monotonic() - meter.t0 < self.seconds
            ):
                k = len(ops)
                t0 = time.monotonic()
                try:
                    if wl.slices:
                        inc = pages.filter(F.col("_slice") == k).drop("_slice")
                        base = self.fold_op(pipe, base, inc, k)
                        results.append(base)
                        n = wl.slice_pages
                    else:
                        results = [self.batch_op(pages)]
                        n = wl.pages
                except Exception:
                    error = traceback.format_exc()
                    break
                ops.append({"wall_s": time.monotonic() - t0, "pages": n})
        res = {"setup": setup, "timed": meter.stop(), "timed_span": timed["id"],
               "ops": ops, "attempted": len(ops) + (error is not None), "error": error}
        if error is None:
            try:
                res["check"] = self.check(results)
            except Exception:
                res["error"] = traceback.format_exc()
        pages.unpersist()
        return res

    def check(self, results: list[dict]) -> dict:
        """Recall and over-merge of the final state, every doc assigned
        once, and the candidate funnel summed over the ops' outputs."""
        from pyspark.sql import functions as F

        import truth

        last = results[-1]
        comps = last["components"]
        out = truth.cluster_recall(last["docs"], comps, self.cfg)
        out["n_docs"] = last["docs"].count()
        row = comps.agg(
            F.count("*").alias("rows"),
            F.countDistinct("doc_id").alias("docs"),
            F.countDistinct("component_id").alias("components"),
        ).collect()[0]
        out["n_components"] = row["components"]
        assigned_once = row["rows"] == row["docs"] == out["n_docs"]
        funnel = dict.fromkeys(FUNNEL + ("non_exact", "passed_non_exact"), 0)
        for r in results:
            for row in r["candidate_pairs"].groupBy("method").count().collect():
                if row["method"] in METHODS:
                    funnel[f"candidate_pairs.{row['method']}"] += row["count"]
                if row["method"] != "exact":
                    funnel["non_exact"] += row["count"]
            funnel["candidate_pairs.overflow_docs"] += sum(
                m.extra.get("dropped_docs", 0)
                for m in r["pipe"].metrics.stages
                if m.stage in {r["ns"] + o for o in OVERFLOW_RECORDS}
            )
            v = r["verified_pairs"].agg(
                F.count(F.when(F.col("passed"), 1)).alias("passed"),
                F.count(F.when(F.col("passed") & (F.col("method") == "suffix"), 1)).alias("lcs"),
                F.count(F.when(F.col("passed") & (F.col("method") != "exact"), 1)).alias("ne"),
            ).collect()[0]
            funnel["verified_pairs.passed"] += v["passed"]
            funnel["verified_pairs.lcs_passed"] += v["lcs"]
            funnel["passed_non_exact"] += v["ne"]
        out["funnel"] = funnel
        out["passed"] = out["recall"] >= RECALL_GATE and assigned_once
        return out

    # -- the two modes ---------------------------------------------------
    def run(self, trace: bool) -> dict:
        """The untraced pass; with ``trace`` also the traced pass, in a new
        SparkContext on the same JVM. The fold-in's standing-corpus build
        is its own warm-up, through the production path and off the
        clock."""
        wl = self.wl
        batch = not wl.slices
        session_s = self.start_session()
        a = self.measure(1 if trace else SETUP_REPEATS, batch, self.out / "store")
        a["setup"]["session_s"] = session_s
        self.stop_session()
        passes = {"untraced": a}
        if trace:
            # as many ops as the untraced pass, so the two passes' funnel
            # counts and final components can be compared
            self.start_session(eventlog_dir=self.out / "eventlog")
            passes["traced"] = self.measure(1, False, self.out / "store_traced",
                                            n_ops=max(1, len(a["ops"])))
            self.stop_session()
        return passes

    def shutdown(self) -> list[int]:
        """Stop the driver JVM pyspark launched and wait for every process
        this run started; returns the pids that had to be killed."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        pids = [p for p in procstat.tree() if p != os.getpid()]
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        return procstat.wait_ended(pids)


# -- metrics -------------------------------------------------------------
def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl: Workload, p: dict) -> dict:
    ops, setup, timed = p["ops"], p["setup"], p["timed"]
    out: dict[str, float] = {
        "setup_s": setup["session_s"] + setup.get("warm_up_s", 0.0)
        + _median(setup["corpus_s"]) + setup.get("standing_corpus_s", 0.0),
    }
    if not ops:
        return out
    pages = sum(o["pages"] for o in ops)
    walls = [o["wall_s"] for o in ops]
    if wl.slices:
        out["docs_per_sec"] = pages / sum(walls)
    else:
        out["docs_per_sec"] = _median(o["pages"] / o["wall_s"] for o in ops)
    out["cpu_s_per_kdoc"] = timed["cpu_s"] / (pages / 1000)
    if "check" in p:
        out["recall"] = p["check"]["recall"]
    return out


def per_layer(spans: list[dict], a: dict, b: dict, groups: dict) -> dict:
    """Per-layer measures of the traced pass, as medians over its timed
    ops; layers the workload does not call read 0."""
    from eventlog import GroupStats

    parent = {s["id"]: s["parent"] for s in spans}

    def under(s, root):
        while s is not None:
            if s == root:
                return True
            s = parent[s]
        return False

    timed = [s for s in spans if under(s["parent"], b["timed_span"])]
    out: dict[str, float] = {}
    for layer in LAYERS:
        vals = [
            {
                **groups.get(s["group"], GroupStats()).measures(),
                "wall_s": Tracer.wall(s),
                "rows": s.get("rows", 0),
                "steal_frac": s.get("steal_frac", 0.0),
            }
            for s in timed if s["name"] == layer
        ]
        for m in MEASURES:
            out[f"{layer}.{m}"] = _median(v[m] for v in vals)
    incs = [s for s in timed if s["name"] == "increment"]
    for stage in STAGE_LAYERS:
        out[f"increment.inc_{stage}_s"] = _median(s["inc_secs"][stage] for s in incs)
    funnel = b.get("check", {}).get("funnel", {})
    for k in FUNNEL:
        out[k] = funnel.get(k, 0)
    out["verified_pairs.useful_ratio"] = (
        funnel["passed_non_exact"] / funnel["non_exact"] if funnel.get("non_exact") else 0.0
    )
    # one wall per run: its spread between runs is past a fifth, so it is
    # a per-layer figure, read from the untraced pass
    out["increment_p50_s"] = _median(o["wall_s"] for o in a["ops"])
    out["session.start_s"] = a["setup"]["session_s"]
    out["corpus.generate_s"] = _median(a["setup"]["corpus_s"])
    # the traced ops against the untraced pass's last as many ops
    wa, wb = [o["wall_s"] for o in a["ops"]], [o["wall_s"] for o in b["ops"]]
    wa = wa[len(wa) - len(wb):]
    out["tracing_overhead_frac"] = _median(wb) / _median(wa) - 1 if wa and wb else 0.0
    return out


def isolate(run_name: str) -> Path:
    """Create the run's directory under ``.perfbench_out/`` and point
    every file the run, the JVM and the Python workers write into it;
    workers import gnames_spark from the checkout."""
    out = ROOT / ".perfbench_out" / run_name
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(out / "spark-local")
    os.environ["TMPDIR"] = str(out / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={out / 'tmp'}"
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    out = isolate(f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")

    import pyspark

    import eventlog

    wl = WORKLOADS[args.workload]
    bench = Bench(wl, args.seed, args.seconds, out)
    try:
        passes = bench.run(bool(args.trace))
    finally:
        killed = bench.shutdown()
        for scratch in ("spark-local", "store", "store_traced", "tmp", "warehouse"):
            shutil.rmtree(out / scratch, ignore_errors=True)

    a = passes["untraced"]
    attempted = failed = 0
    for p in passes.values():
        attempted += p["attempted"]
        if p["error"] is not None or not p["check"]["passed"]:
            # an op that raised, a check that raised or a missed gate
            # fails every op of the pass
            failed += p["attempted"]
    correct = failed == 0
    if args.trace:
        b = passes["traced"]
        if correct:
            # the same seed twice in one process: counts must repeat
            correct = (
                a["check"]["funnel"] == b["check"]["funnel"]
                and a["check"]["n_components"] == b["check"]["n_components"]
            )
        groups = eventlog.fold_dir(out / "eventlog")
        metrics = per_layer(bench.tracer.spans, a, b, groups)
        # peak memory swings with JVM heap growth by more than a tenth
        # between runs, so it is a per-layer figure, not an end-to-end one
        metrics["peak_rss_mb"] = a["timed"]["peak_rss_mb"]
        metrics["overmerged_clusters"] = a.get("check", {}).get("overmerged_clusters", 0)
        metrics["failed_frac"] = failed / attempted
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = end_to_end(wl, a)
        units = E2E_UNITS

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {**bench.host, "spark": pyspark.__version__, "git_commit": git_commit()},
        "config_hash": bench.cfg.config_hash(),
        "passes": {k: {kk: vv for kk, vv in p.items() if kk != "timed_span"} for k, p in passes.items()},
        "killed_pids": killed,
        "metrics": metrics,
    }
    (out / "result.json").write_text(json.dumps(record, indent=1, default=str))
    (out / "spans.json").write_text(json.dumps(bench.tracer.spans, indent=1))
    for p in passes.values():
        if p["error"]:
            print(p["error"], file=sys.stderr)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "host", "config_hash")}
                     | {"timed": a["timed"], "check": {k: v for k, v in a.get("check", {}).items()}}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in turn, each in its own process and JVM. Prints
    one line per metric (workload, name, value, unit), then one JSON
    object over all workloads with the metrics named ``<workload>.<metric>``."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in sorted(WORKLOADS):
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        try:
            res = json.loads(proc.stdout.splitlines()[-1])
        except (IndexError, ValueError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        merged["correct"] = merged["correct"] and res["correct"] and proc.returncode == 0
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            print(f"{name:<17} {k:<34} {v['value']:>14.6g} {v['unit']}")
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


E2E_UNITS = {
    "setup_s": "s", "docs_per_sec": "1/s", "cpu_s_per_kdoc": "s/kdoc", "recall": "ratio",
}


def _unit(name: str) -> str:
    measure = name.rsplit(".", 1)[-1]
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_bytes") or measure == "py_bytes":
        return "bytes"
    if measure.endswith("_frac") or measure in ("task_skew", "useful_ratio"):
        return "ratio"
    if measure.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
