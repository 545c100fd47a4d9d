"""SparkSession factory with the engine's standard configuration.

Local-mode knobs follow the public Spark tuning guidance: AQE on (runtime
re-plan + skew-join splitting), Arrow on (every Python crossing is
vectorized), shuffle partitions sized to cores rather than the 200
default. On a real cluster the same builder is used with a different
master; nothing here is local-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def box_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's)."""
    return len(os.sched_getaffinity(0))


def box_driver_memory() -> str:
    """A quarter of RAM, at most 8 GB: in local mode every executor runs
    inside the driver JVM, and the rest stays for the Python workers and
    the page cache."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(8, kb // 4 // (1 << 20)))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "crawl4ai_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parameters are overridable for benchmarks that compare parallelism
    levels (local[1] vs local[4]) on identical input.  Defaults fit the
    box: ``local[<affinity CPUs>]`` (or ``SPARK_GRAFT_CPUS``) and a driver
    heap of a quarter of RAM, at most 8 GB (or ``SPARK_DRIVER_MEMORY``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or box_cpus()
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism, not Spark's default 200: at local scale 200
        # tiny shuffle partitions are pure overhead; on a cluster this is
        # set to 2-3x total cores (AQE coalesces down as needed).
        n = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # runtime bloom-filter joins: Spark's own bloom pushdown under
        # large anti/semi joins (complements our persisted seen-set bloom)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or box_driver_memory())
        .config("spark.ui.enabled", "false")
        # JVM unified logging writes to STDOUT by default; under memory
        # pressure [warning][gc,alloc] GCLocker lines land in the middle
        # of bench.py's one-JSON-line stdout contract (observed during the
        # 50M-URL holdout).  Route it off; Spark's own log4j output
        # already goes to stderr.
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        .config("spark.executor.extraJavaOptions", "-Xlog:disable")
    )
    # shuffle/spill dir: overridable — benchmarks point this at tmpfs
    # (SPARK_LOCAL_DIRS=/dev/shm/...) because the sandbox's virtio disk has
    # erratic latency that swamps shuffle-stage timings
    if os.environ.get("SPARK_LOCAL_DIRS"):
        builder = builder.config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
