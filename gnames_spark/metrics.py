"""Per-stage throughput metrics.

Reference analog: per-request structured logging of name counts and
timings (`/root/reference/pkg/gnames_verif.go:166-173`). North_rule
requires per-partition lineage and docs/sec with each checkpoint; the
lineage table is written by the checkpoint store (checkpoint.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class StageMetric:
    stage: str
    rows: int
    secs: float
    docs_per_sec: float
    reused: bool = False
    extra: dict = field(default_factory=dict)


class MetricsCollector:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.stages: list[StageMetric] = []

    def record(self, stage: str, rows: int, secs: float, reused: bool = False, **extra) -> StageMetric:
        m = StageMetric(
            stage=stage,
            rows=rows,
            secs=round(secs, 3),
            docs_per_sec=round(rows / secs, 1) if secs > 0 else 0.0,
            reused=reused,
            extra=extra,
        )
        self.stages.append(m)
        return m

    def to_json(self) -> str:
        return json.dumps({"run_id": self.run_id, "stages": [asdict(m) for m in self.stages]}, indent=1)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(self.to_json())


def codegen_compiles(spark) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compile count): a driver-side read that launches
    no job. In local mode task threads compile in the same JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def timed(fn):
    """(result, seconds) of fn()."""
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0
