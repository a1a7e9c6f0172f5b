"""SparkSession factory with the engine's standard configuration.

Tuned for correctness tests on local[N]; every setting is also what we would
ship on a real multi-executor cluster (AQE on, Arrow on, skew-join on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]

# local mode = one JVM for driver + all executor threads: size the heap for
# N concurrent tasks' sort/join buffers or they spill — measured local[32]
# SLOWER than local[8] at 8g (per-task execution memory 4x smaller). 48g
# suits the 128 GiB bench box; smaller hosts get half their physical
# memory, so the JVM is never sized past what the kernel can back
_MAX_DRIVER_MB = 48 * 1024


def _default_driver_memory() -> str:
    """``min(48g, physical memory / 2)`` as a Spark memory string."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{min(_MAX_DRIVER_MB, phys_mb // 2)}m"


def get_spark(
    app_name: str = "fast-er-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # scan parallelism: the default 128 MB split makes a ~500 MB stage
        # table read back as ~4 tasks, starving per-row kernel stages (JVM
        # anchors/signatures) of cores right after every checkpoint read —
        # measured 62 s vs 14 s for the anchor stage at 500k docs. 16 MB
        # keeps small stage tables at >= cores tasks; at real corpus scale
        # files outnumber cores anyway and this setting is irrelevant.
        .config("spark.sql.files.maxPartitionBytes", "16MB")
        # partial-aggregate fast-map capacity: default 2^16 KEPT after a
        # 12-trial A/B (PERF.md round 5) — 2^20 looked right on paper (the
        # pattern-assembly partial agg sees ~500k mostly-unique keys/task,
        # 88% falling through to the slow map) but LOST ~5-10 s on the 100k
        # workload: 232 tasks x 1M-slot map init + page churn exceeds what
        # the fast path saves when keys barely repeat.
        .config("spark.sql.codegen.aggregate.fastHashMap.capacityBit", "16")
        # UI off by default (saves a jetty server per test session); profiling
        # scripts export SPARK_UI_ENABLED=true to read the stage REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def stop_spark(spark: SparkSession) -> None:
    spark.stop()
