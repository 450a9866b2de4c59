"""SparkSession factory tuned for the validation workload.

Local-mode defaults mirror what a 1000-executor cluster job would set:
AQE on (runtime re-plan + skew-join mitigation), shuffle partitions sized
to the parallelism, Arrow enabled for the pandas-UDF slow path, UTC
session timezone so results compare bit-for-bit against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MEM_MB = 48 << 10


def driver_memory() -> str:
    """``spark.driver.memory`` for a new session: ``SPARKCHECK_DRIVER_MEM``
    if set, else half of physical RAM capped at 48g. In local mode the
    driver JVM runs every task, so a heap sized past RAM gets it killed
    by the OOM killer instead of spilling."""
    env = os.environ.get("SPARKCHECK_DRIVER_MEM")
    if env:
        return env
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, OSError, ValueError):  # no sysconf (Windows)
        return "4g"
    return f"{max(1 << 10, min(_MAX_DRIVER_MEM_MB, phys // 2 >> 20))}m"


def get_spark(
    app_name: str = "sparkcheck",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with validation-friendly defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # In local[N] the "cluster" is N threads; shuffle partitions ≈ cores.
    # On a real cluster this should be ~2-3× total executor cores.
    nslots = int(cpus) if str(cpus).isdigit() else 32
    shuffle_partitions = shuffle_partitions or max(nslots, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin ANSI semantics (default-on in Spark 4, off in 3.5) so
        # NULL-propagation of size()/split() etc. is version-independent.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # FAIR scheduling so concurrently-submitted rule/test jobs share
        # executors instead of queueing behind one long scan (the engine
        # and test runner submit independent jobs from driver threads).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Floor on scan parallelism (guide §6): when an input is smaller
        # than cores × maxPartitionBytes, Spark would otherwise plan a
        # handful of splits and leave the cluster idle — minPartitionNum
        # shrinks the split size until every slot has work. Scale-adaptive
        # by construction: at 100 TB the bytes/minPartitionNum quotient
        # exceeds maxPartitionBytes and the 128m ceiling governs, so this
        # only affects inputs small relative to the cluster.
        .config("spark.sql.files.minPartitionNum", str(2 * nslots))
        # Let the planner pick shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1) — skips both sorts.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
