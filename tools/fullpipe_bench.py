"""Median-of-N evidence for the sf full-pipeline wall time.

The single-shot `dedup_full_pipeline` number in bench.py sits at a size
(5k docs at sf0.1) where wall is dominated by fixed per-job cost and
the host's 2-3x contention noise (BENCH.md measurement protocol), so
round-over-round single samples wobble. This tool runs the SAME
pipeline invocation N times in one warmed JVM and reports min / median
/ max — the median is the comparable number.

Writes FULLPIPE_BENCH.json. Usage:
    python tools/fullpipe_bench.py [sf_dir] [n_trials]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")
sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from gnames_spark.config import DedupConfig
    from gnames_spark.pipeline import DedupPipeline
    from gnames_spark.session import get_spark, host_cpus

    cpus = host_cpus()
    spark = get_spark(app_name="fullpipe_bench", master=f"local[{cpus}]")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang",
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
    )
    n_docs = docs.count()  # warms the scan + JVM off the clock
    cfg = DedupConfig(shuffle_partitions=cpus)
    trials = []
    for i in range(n_trials):
        t0 = time.monotonic()
        res = DedupPipeline(spark, cfg).run(docs)
        res["components"].count()
        res["representatives"].filter("is_representative").count()
        secs = round(time.monotonic() - t0, 3)
        trials.append(secs)
        print(f"trial {i + 1}/{n_trials}: {secs}s")
    med = statistics.median(trials)
    out = {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "cpus": cpus,
        "trials": trials,
        "min": min(trials),
        "median": med,
        "max": max(trials),
        "median_docs_per_sec": round(n_docs / med, 1),
    }
    with open("FULLPIPE_BENCH.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
