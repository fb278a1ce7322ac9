"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every config
here is one that also applies on a 1000-executor deployment (AQE, skew
join splitting, Arrow batching). Parallelism is parameterized so the
bench harness can run the identical job at local[N] and local[4N] to
evidence the two-cluster-size scaling criterion.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _driver_mem() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else an eighth of physical memory clamped
    to 1-2 GiB in 256 MiB steps: the heap is committed up front
    (-Xms = -Xmx), so it must fit the host it starts on."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(2048, total_mb // 8)) // 256 * 256}m"


def get_spark(
    app_name: str = "ner_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    AQE is on: it coalesces small shuffle partitions and splits skewed
    ones at runtime — the mechanism that keeps the giant-repo skew
    (FIXTURES.md F4: one repo owns ~50% of rows) from serializing a
    stage on a real cluster.
    """
    cpus = cpus or DEFAULT_CPUS
    driver_mem = _driver_mem()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large `content` strings: keep Arrow batches bounded so the
        # Python workers never hold more than ~batch rows of file text
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # Fixed heap (-Xms = spark.driver.memory): without it, G1 grows
        # the heap under load and young GCs trigger kernel page-commit
        # storms (observed Sys >> User in GC logs, ~4 s pauses at 32
        # threads). Equal values also mean lowering the heap can never
        # leave Xms > Xmx (opaque JVM launcher failure).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dio.netty.tryReflectionSetAccessible=true -Xms{driver_mem}",
        )
        .config("spark.python.worker.faulthandler.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
