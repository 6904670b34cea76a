"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the machine's physical memory, capped at 48g: local mode runs
    every task in the driver JVM, but a heap larger than the machine
    gets the process OOM-killed instead of spilling."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1024, min(48 * 1024, phys // 2 ** 21))}m"


_JIT_OPTS = "-XX:TieredStopAtLevel=1"


def get_spark(app_name: str = "map_the_net_crawler_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER",
                                      f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    cores = master.split("[")[-1].rstrip("]") if "[" in master else "32"
    try:
        n = int(cores) if cores != "*" else (os.cpu_count() or 8)
    except ValueError:
        n = 32
    sp = shuffle_partitions or n
    return (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        # broadcast sides up to 64 MB (default 10m): the decision stays
        # estimate-driven so corpus-scale sides still sort-merge, while
        # mid-size key sets (a few-hundred-k-row anti-join side) skip
        # the shuffle; executors are sized for it (guide §3.1/§9).
        # Env-overridable for clusters with small executors.
        .config("spark.sql.autoBroadcastJoinThreshold",
                os.environ.get("MTN_AUTO_BROADCAST", "64m"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # TableIO resolves every path it reads from its own manifests, so
        # Spark's file listing stays on the driver at any path count: the
        # default threshold (32 paths) turned every bucketed read into a
        # distributed listing job (~0.5 s of fixed cost each)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(2 ** 31 - 1))
        # local mode = driver-only JVM: size the heap for cores × task
        # buffers (8g with 32 concurrent tasks GC-thrashes on wide rows)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY",
                               _default_driver_memory()))
        # C1 only, no C2: the engine runs many small bounded jobs, and
        # C2 spends more CPU compiling hot Spark code than the jobs run.
        # A cold 256-URL crawl iteration at local[4] (4-core VM) spent
        # 23-31 s of JIT compile time against 18-22 s of task time; at
        # C1 the JIT takes 4.3 s, and the process CPU of the iteration
        # fell from 47 to 26 s (median of 20 runs), while warm sub-second
        # queries run up to ~40% slower. The defaultJavaOptions keys go
        # ahead of a caller's extraJavaOptions on the JVM command line,
        # so the cap survives them and a caller's own
        # -XX:TieredStopAtLevel still wins.
        .config("spark.driver.defaultJavaOptions", _JIT_OPTS)
        .config("spark.executor.defaultJavaOptions", _JIT_OPTS)
        .config(map=dict(extra_conf or {}))
        .getOrCreate()
    )
