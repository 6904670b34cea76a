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


def get_spark(app_name: str = "map_the_net_crawler_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              codegen: bool = True,
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
        # the crawl pipeline's worst expressions (44-branch category CASE,
        # 30-alternation filter regexes) cost minutes of janino compile at
        # 10-row batch cardinality; interpreted eval is regex-bound anyway
        .config("spark.sql.codegen.wholeStage", str(codegen).lower())
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
        .config(map=dict(extra_conf or {}))
        .getOrCreate()
    )
