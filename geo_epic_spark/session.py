"""SparkSession factory tuned for the spatial-join workload.

Defaults are chosen for scale-out behaviour (AQE, skew-join splitting,
Arrow-batched UDF transfer) and apply identically on a real multi-executor
cluster; ``local[n]`` is only the test harness. Replaces the reference's
hand-rolled process pools (`geoEpic/utils/parallel.py:37-97`) with Spark task
scheduling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # AQE: runtime re-planning, skew-join splitting, partition coalescing —
    # the north rule's skew story rides on these plus explicit salting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
    # Arrow for every pandas UDF / mapInPandas boundary. Batch size 2048,
    # not the 10000 default: the JVM producer and the Python worker of ONE
    # task pipeline PER BATCH, so a task whose whole input fits a single
    # batch runs its JVM column work and its Python kernel back-to-back
    # serially — at 4*cpus partitions that is exactly the high-parallelism
    # regime (smaller tasks -> one batch each). Measured on the minhash
    # signature stage (300k docs, local[16]): 19.5-25 s at 10000 -> 13.4 s
    # at 2000, reps tight; 1000 is past the sweet spot (per-batch overhead).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Python workers skip re-reading pyspark.zip, py4j and the spark-core jar
    # on every task (see worker_daemon's docstring).
    "spark.python.daemon.module": "geo_epic_spark.worker_daemon",
    # Broadcast dims aggressively; grids/polygon tables are usually << facts.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Keep shuffle partition count moderate for local runs; AQE coalesces.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    # local mode: the driver JVM hosts all executor threads, so it gets half
    # of physical memory in whole GB (at least 1g); the rest is left to the
    # Python workers and the OS.
    "spark.driver.memory": f"{max(1, os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**31)}g",
    # G1 with a relaxed pause target + large regions: ~12% faster than G1
    # defaults on the 32-thread broadcast-join hot path (measured 20.1s vs
    # 22.9s at 24M rows). ZGC and ParallelGC are both far worse here.
    "spark.driver.extraJavaOptions":
        "-XX:+UseG1GC -XX:MaxGCPauseMillis=400 -XX:G1HeapRegionSize=32m",
    "spark.executor.extraJavaOptions":
        "-XX:+UseG1GC -XX:MaxGCPauseMillis=400 -XX:G1HeapRegionSize=32m",
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    cpus: int | str | None = None,
    app_name: str = "geo-epic-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: parallelism for local mode ('*' or an int). On a real cluster the
    master comes from spark-submit and this argument is ignored by Spark.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
