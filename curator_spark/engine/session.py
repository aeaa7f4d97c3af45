"""SparkSession factory tuned for the quality-filter workload.

Settings chosen for the 100 TB target, not just local tests:
- AQE on (runtime shuffle coalescing + skew-join splitting),
- Arrow on with a bounded records-per-batch so large `text` values
  don't blow Python-worker memory,
- UTC session timezone so timestamp round-trips are stable,
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number non-critical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# One BLAS/OpenMP thread per Python worker. Spark already runs one
# worker per task slot, so intra-op threading only oversubscribes: with
# the vars unset, EVERY worker spawns a visible-CPU-sized thread pool
# (12 workers x 24-thread pools = 288 runnable threads on 24 CPUs) and
# the vectorized scorer measured 2.8x slower aggregate. Parallelism
# comes from Spark's partitioning, not from nested BLAS pools.
_WORKER_THREAD_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


def default_cores() -> int:
    """Task slots for `local[N]` when the caller names none:
    SPARK_GRAFT_CPUS if set, else the CPUs this process may run on.
    More slots than CPUs only oversubscribe the Python workers."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "curator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)
    for var in _WORKER_THREAD_VARS:
        # driver env is inherited by local-mode python workers; the
        # executorEnv conf below covers real-cluster executors
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for var in _WORKER_THREAD_VARS:
        b = b.config(f"spark.executorEnv.{var}", "1")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # ship the package to executor workers (local analog of --py-files)
    from curator_spark.engine.packaging import ship_package

    ship_package(spark)
    return spark
