"""SparkSession factory tuned for the local test harness.

Production deployment is ``spark-submit --py-files geo_linked_open_data_kg_spark.zip``
on a multi-executor cluster; only the master / memory knobs change — every
transform in this package is expressed against the DataFrame API and is
agnostic to executor topology.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo",
                          cgroup_limits: tuple[str, ...] = (
                              "/sys/fs/cgroup/memory.max",
                              "/sys/fs/cgroup/memory/memory.limit_in_bytes"),
                          ) -> str:
    """Driver heap default: half the memory this process may use (the
    host's MemTotal, or a smaller cgroup v2 `memory.max` / v1 limit),
    capped at 16g. A heap sized past physical memory lets the kernel
    OOM-kill the JVM instead of Spark spilling."""
    with open(meminfo) as fh:
        avail = next(int(line.split()[1]) * 1024 for line in fh
                     if line.startswith("MemTotal:"))
    for path in cgroup_limits:
        try:
            with open(path) as fh:
                limit = fh.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            avail = min(avail, int(limit))
    return f"{min(16 * 1024, avail // 2 // 2**20)}m"


def get_spark(app: str = "geo_kg", cores: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None,
              executor_memory: str | None = None) -> SparkSession:
    """`master` override supports `local-cluster[N,cores,mem_mb]` — real
    multi-executor JVMs (own heap/GC/spill per executor), used by the
    scaling bench to evidence the N-vs-4N-executors criterion without a
    cluster manager."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sp = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder
        .master(master or f"local[{cores}]")
        .appName(app))
    if executor_memory:
        b = b.config("spark.executor.memory", executor_memory)
    return (
        b
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        # shuffle codec trade-off (BENCH.md): zstd compresses the wide
        # hit/gram streams tighter (wins when shuffle-IO-bound, i.e.
        # many cores on one box / small network pipes); lz4 costs less
        # CPU (wins on small CPU-bound executors). Overridable per run.
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Input-split sizing (round 6, guide §6): maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)),
        # so the 4 MB openCost default FLOORS split size and serializes
        # small-input scans (an 8 MB corpus became 3 map tasks on 32
        # cores — measured as the bench's #1 wall bottleneck). 128 KB
        # matches local NVMe/page-cache seek cost and lets split count
        # track defaultParallelism; at scale bytes/minPartitionNum
        # dominates and splits stay at maxPartitionBytes (128 MB), so
        # this does NOT shrink large-scan splits. On object storage
        # (high per-file open latency) override via SPARK_GRAFT_OPEN_COST
        # back to 4194304.
        .config("spark.sql.files.openCostInBytes",
                os.environ.get("SPARK_GRAFT_OPEN_COST", "131072"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        # one pipeline build generates 430-480 distinct classes; Spark's
        # default cache holds 100, so every warm build recompiled ~460 of
        # them (CodegenMetrics). 1000 keeps a whole build's classes.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
