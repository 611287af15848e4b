"""SparkSession factory with scale-aware defaults.

Single place that encodes the execution knobs we rely on everywhere:
AQE (runtime re-plan + skew-join splitting — the planner half of the
reference's hand-rolled hot-key truncation,
`/root/reference/internal/io/pgio/match_records_map.go:17-22`), Arrow for
the pandas-UDF kernels, UTC session time zone so DuckDB-oracle
comparisons are stable, and shuffle partitions sized to cores rather
than the 200 default.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# share of the host's memory a local session's driver JVM may grow to
# (the JVM commits heap on use, so the ceiling costs nothing when idle)
DRIVER_MEM_FRACTION = 0.5
_MEMINFO = "/proc/meminfo"


def host_cpus() -> int:
    """Task slots of a local session: ``SPARK_GRAFT_CPUS`` when set, else
    the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def driver_memory() -> str:
    """``spark.driver.memory`` of a local session:
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else ``DRIVER_MEM_FRACTION`` of
    ``MemTotal`` in whole GiB (at least 1g; 4g where /proc/meminfo is
    unreadable)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(_MEMINFO) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "4g"
    return f"{max(1, int(kb * DRIVER_MEM_FRACTION) // 2**20)}g"


# the task slots of a local master: local, local[N], local[*] and the
# max-failures forms local[N,F] / local[*,F]
_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?")


def default_shuffle_partitions(master: str) -> int:
    """``spark.sql.shuffle.partitions`` when none is given: a local
    master's task slots (``local[*]`` → :func:`host_cpus`, ``local[N]``
    and ``local[N,F]`` → N, bare ``local`` → 1), at least 4, so the
    shuffle width ≈ cores; 32 for any other master (``local-cluster``,
    a cluster URL), where spark-submit ``--conf`` is expected to set
    ~2-3x the total executor cores."""
    m = _LOCAL_MASTER.fullmatch(master.strip())
    if m is None:
        return 32
    slots = m.group(1)
    return max(host_cpus() if slots == "*" else int(slots or 1), 4)


def get_spark(
    app_name: str = "gnames_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    inherit_master: bool = False,
) -> SparkSession:
    """Build the tuned session.

    ``inherit_master=True`` is the spark-submit path: no ``.master()``
    and no driver-memory override, so the cluster manager, executor
    topology, and driver sizing chosen on the ``spark-submit`` command
    line win. The engine's tuning confs (AQE, Arrow, SHJ preference,
    coalesce floor, UTC, generated-code cache size) also yield to
    explicit ``--conf``: on a fresh driver ``getOrCreate`` would apply
    ``builder.config`` OVER the submit-line properties, so each tuning
    conf is set only when absent from the ambient SparkConf — operators
    can disable AQE, the SHJ preference, the 64k minPartitionSize floor,
    or the UTC session timezone, or resize the generated-code cache,
    from the command line.
    """
    if inherit_master:
        builder = SparkSession.builder.appName(app_name)
        if shuffle_partitions is not None:
            builder = builder.config(
                "spark.sql.shuffle.partitions", str(shuffle_partitions)
            )
        builder = _tuning(builder, respect_ambient=True)
        for k, v in (extra_conf or {}).items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        return spark
    if master is None:
        master = f"local[{host_cpus()}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions(master)

    # shuffle/spill scratch on tmpfs is OPT-IN (SPARK_GRAFT_TMPFS=1 or an
    # explicit SPARK_GRAFT_LOCAL_DIR): tmpfs is RAM-backed and typically
    # capped at 50% of RAM, so spill > RAM — the NORM at production scale
    # — would ENOSPC, and "spilling" under memory pressure would consume
    # more memory. This sandbox's single shared /tmp disk serializes
    # shuffle I/O (measured: identical 8-core pipeline 110s on disk vs
    # 70s on tmpfs), so bench/recall/scaling tools and tests set the flag
    # explicitly; production defaults to Spark's normal local dirs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if (
        local_dir is None
        and os.environ.get("SPARK_GRAFT_TMPFS") == "1"
        and os.path.isdir("/dev/shm")
    ):
        local_dir = "/dev/shm/spark-scratch"
    if local_dir:
        try:
            os.makedirs(local_dir, exist_ok=True)
        except OSError:
            local_dir = None

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local-only sizing: on spark-submit (inherit_master) the UI and
        # driver memory belong to the submitter. The heap is sized to the
        # host, not to the task count: concurrent tasks' SHJ build maps
        # share one JVM's execution memory (8g measured insufficient at
        # 10^6 docs on local[32]: can't acquire memory to build hash
        # relation), so a big run wants most of the machine
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    builder = _tuning(builder)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_TUNING_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing targets BYTES, but the verify stages downstream
    # of candidate joins are tiny-bytes / heavy-Python-CPU (pair ids
    # + short texts feeding substring / Jaccard kernels). The
    # default 1MB minPartitionSize floor collapses them to 1-2
    # partitions and the pandas kernel runs single-threaded
    # (measured: substring verify 44s -> 4s at sf0.1 with the floor
    # lowered). parallelismFirst still targets default parallelism,
    # so large shuffles are unaffected.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # prefer shuffled-hash over sort-merge: verification joins carry
    # ~2.4KB array payloads per row that SMJ would sort on both
    # sides; SHJ builds a hash map instead (AQE still falls back to
    # SMJ when a build side is too large)
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Spark keeps compiled generated classes in one JVM-wide LRU cache
    # keyed by (class loader, source), default 100 entries. One
    # 1,200-page fullconfig batch walks ~228 keys (driver and task
    # threads compile one body under different loaders) in the same
    # order every batch, so at 100 every class of every batch missed
    # and Janino recompiled it: ~227 compiles per batch, 0-15 with
    # 1,000 (measured at local[4]). Fold-ins add ~65 keys per
    # increment, so 1,000 holds a batch plus several increments. A
    # static conf: only the JVM's first session sets it.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def engine_confs(spark: SparkSession) -> dict[str, str]:
    """The tuning confs the session actually runs with: library
    defaults, or the submit-line ``--conf`` values that beat them."""
    return {k: spark.conf.get(k, "unset") for k in sorted(_TUNING_CONFS)}


def _tuning(builder, respect_ambient: bool = False):
    """Engine tuning shared by local and spark-submit sessions.

    ``respect_ambient=True`` (the spark-submit path): a conf already
    present in the ambient SparkConf — i.e. set via ``--conf`` on the
    submit line, which lands in the driver's system properties before
    any session exists — is left alone, so the operator's explicit
    choice wins over the library default even on a fresh driver where
    ``builder.config`` would otherwise override it."""
    ambient = None
    if respect_ambient:
        from pyspark import SparkConf, SparkContext

        # SparkConf(loadDefaults=True) reads spark.* JVM system
        # properties — where spark-submit puts --conf values — but only
        # once the py4j gateway exists; before any session is built the
        # gateway is not yet up, so ensure it first (in a submitted
        # driver this just attaches to the already-running JVM)
        SparkContext._ensure_initialized()
        ambient = SparkConf(loadDefaults=True)
    for k, v in _TUNING_CONFS.items():
        if ambient is not None and ambient.contains(k):
            continue
        builder = builder.config(k, v)
    return builder
