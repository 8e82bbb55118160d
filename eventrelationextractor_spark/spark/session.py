"""SparkSession factory with the engine's default configuration.

Scale posture (SURVEY.md §4.3): AQE on (runtime re-planning + skew-join
splitting), Arrow enabled for every pandas UDF boundary, shuffle
partitions sized to the usable cores of the host but overridable for
clusters (arguments, or the SPARK_GRAFT_* environment variables).
"""

from __future__ import annotations

import os


def build_session(master: str | None = None, app_name: str = "erex-spark",
                  shuffle_partitions: int | None = None, **extra):
    from pyspark.sql import SparkSession

    # defaults follow the cores this process may run on (its affinity
    # mask, which a container's CPU set narrows), not the machine size
    usable = str(len(os.sched_getaffinity(0)))
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", usable)
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", usable))

    builder = (SparkSession.builder
               .master(master)
               .appName(app_name)
               # local mode shares ONE JVM heap across all executor
               # threads; Spark's 1g default starves 32 concurrent task
               # buffers on this 128 GiB box (reproduced: heavy dedup
               # tiers OOM at sf0.1 and TaskResultLost at sf1.0 under
               # 1g). Only effective if the JVM isn't already up -
               # i.e. for fresh processes, which is how bench/tests/
               # jobs run. A cluster deployment sizes executors
               # explicitly and overrides via SPARK_GRAFT_DRIVER_MEM.
               .config("spark.driver.memory",
                       os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
               .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
               .config("spark.sql.adaptive.skewJoin.enabled", "true")
               .config("spark.sql.execution.arrow.pyspark.enabled", "true")
               .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
               # the extraction stage does milliseconds of Python per KB of
               # input, so scan partitions must be sized for CPU, not IO:
               # with the 128MB default a whole small corpus lands in 2-3
               # tasks and caps parallelism (tune per deployment)
               .config("spark.sql.files.maxPartitionBytes",
                       os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                                      str(8 * 1024 * 1024)))
               .config("spark.sql.files.openCostInBytes", str(512 * 1024))
               .config("spark.serializer",
                       "org.apache.spark.serializer.KryoSerializer")
               .config("spark.ui.enabled", "false"))
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
