"""SparkSession factory with the engine's tuned configuration.

The conf bundle encodes the physical-execution policy from SURVEY.md §4:
AQE on (runtime re-plan + skew-join), Arrow everywhere (all custom
operators are pandas/Arrow UDFs, never per-row Python), UTC timestamps
(DuckDB-oracle comparability), shuffle partitions sized to cores for
local mode.  On a real cluster the same code runs unchanged via
``spark-submit --py-files``; only ``master`` / memory sizing move to
submit-time conf (see jobs/tile_images.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# numpy/BLAS must stay single-threaded inside Spark python workers —
# N workers x M BLAS threads oversubscribes the box (set before the JVM
# forks workers; inherited by them in local mode)
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

# every entry point's local[N]: $SPARK_GRAFT_CPUS, else the CPUs this
# process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def engine_confs(shuffle_partitions: int) -> dict[str, str]:
    """The conf bundle every engine session uses, local or cluster."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # parquet scan sizing: at 100 TB this bounds per-task input
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.parquet.aggregatePushdown": "true",
        # runtime bloom pushdown for shuffle joins (Spark's automatic
        # form of operators/bloom.py's explicit semi-join reduction)
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/tmp",
    }


def get_spark(
    app: str = "lazyosm_spark",
    cpus: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a local[N] session with the engine conf bundle.

    ``cpus`` doubles as the parallelism lever used for the N-vs-4N
    scaling-efficiency evidence (BENCH/BASELINE.md): the same job is run
    at local[8] and local[32] and throughput compared.
    """
    n = cpus or DEFAULT_CPUS
    b = SparkSession.builder.master(f"local[{n}]").appName(app)
    b = b.config("spark.driver.memory", driver_memory)
    for k, v in engine_confs(shuffle_partitions=max(n, 8)).items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
