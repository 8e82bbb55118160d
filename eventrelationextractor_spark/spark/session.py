"""SparkSession factory with the engine's default configuration.

Scale posture (SURVEY.md §4.3): AQE on (runtime re-planning + skew-join
splitting), Arrow enabled for every pandas UDF boundary, shuffle
partitions sized to the usable cores of the host but overridable for
clusters (arguments, the SPARK_GRAFT_{CPUS,MASTER} environment variables
for the master, or any conf key through ``**extra``, applied last).
"""

from __future__ import annotations

import os

# the package's Python worker module and the directory it is imported from
# (inside the --py-files zip too: zipimport accepts 'erex.zip/<pkg>/_worker')
WORKER_MODULE = "pyspark_erex_worker"
WORKER_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "_worker")


def worker_confs(master: str, confs: dict | None = None) -> dict:
    """``confs`` plus what runs the package's worker module in every Python
    worker of a ``local*`` master, whose workers share the driver's paths:
    the module name (unless ``confs`` names one), and WORKER_DIR put in
    front of spark.executorEnv.PYTHONPATH. A caller's own PYTHONPATH there
    is kept, not replaced: the workers may need it to find the package. A
    cluster that ships the package passes these two confs itself."""
    confs = dict(confs or {})
    if master.startswith("local"):
        confs.setdefault("spark.python.worker.module", WORKER_MODULE)
        confs["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (WORKER_DIR, confs.get("spark.executorEnv.PYTHONPATH"))
            if p)
    return confs


def _host_memory_bytes() -> int:
    """Physical memory, narrowed by this process's cgroup limit if any
    (v2 memory.max, or v1 memory.limit_in_bytes)."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path, encoding="ascii") as f:
                limits.append(int(f.read().strip()))
        except (OSError, ValueError):      # absent, or "max"
            pass
    return min(limits)


def driver_memory(host_bytes: int) -> str:
    """spark.driver.memory for a host with ``host_bytes`` of memory: half
    of it, capped at 12g."""
    return f"{min(host_bytes // 2 // 2**20, 12 * 1024)}m"


def build_session(master: str | None = None,
                  shuffle_partitions: int | None = None, **extra):
    from pyspark.sql import SparkSession

    # defaults follow the cores this process may run on (its affinity
    # mask, which a container's CPU set narrows), not the machine size
    usable = len(os.sched_getaffinity(0))
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", usable)
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = usable

    builder = (SparkSession.builder
               .master(master)
               .appName("erex-spark")
               # local mode shares ONE JVM heap across all executor
               # threads, and Spark's 1g default starves the task buffers
               # of a many-core host (heavy dedup tiers OOMed at sf0.1 and
               # lost task results at sf1.0 under 1g on local[32]). Half
               # the memory this process may use (cgroup limit or RAM),
               # capped at 12g, leaves the rest to the Python workers.
               # Only effective if the JVM isn't already up - i.e. for
               # fresh processes, which is how bench/tests/jobs run. A
               # cluster deployment sizes executors explicitly and passes
               # spark.driver.memory via **extra.
               .config("spark.driver.memory",
                       driver_memory(_host_memory_bytes()))
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
                       str(8 * 1024 * 1024))
               .config("spark.sql.files.openCostInBytes", str(512 * 1024))
               .config("spark.serializer",
                       "org.apache.spark.serializer.KryoSerializer")
               .config("spark.ui.enabled", "false")
               .config(map=worker_confs(master, extra)))
    return builder.getOrCreate()
