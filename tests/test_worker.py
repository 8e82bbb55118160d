"""The package's Python worker module (``_worker/pyspark_erex_worker.py``):
pyspark's daemon imports it before forking, so every worker starts with
the per-document core loaded and the heap frozen."""


def test_worker_starts_preloaded_and_frozen(spark):
    """Each task sees the core already imported and a frozen heap, and
    the objects the per-task ``gc.collect()`` still scans stay few
    however many tasks a worker has run."""
    def probe(batches):
        import gc
        import os
        import sys

        import pyarrow as pa
        preloaded = "eventrelationextractor_spark.core.pipeline" in sys.modules
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "frozen": [gc.get_freeze_count()],
            "preloaded": [preloaded],
            "unfrozen": [len(gc.get_objects())]})

    # Spark keys its Python worker pools by the functions' environment: a
    # variable of this test's own gets a new daemon, whose workers have
    # run no other test's tasks
    env = spark.sparkContext.environment
    env["EREX_TEST_WORKER_POOL"] = "test_worker"
    try:
        rows = (spark.range(0, 64, numPartitions=32)
                .mapInArrow(probe, "pid long, frozen long, "
                                   "preloaded boolean, unfrozen long")
                .collect())
    finally:
        del env["EREX_TEST_WORKER_POOL"]
    assert len(rows) == 32
    assert all(r.preloaded for r in rows)
    assert min(r.frozen for r in rows) > 10_000
    # several tasks per worker; the first task's own imports (pandas
    # alone is ~30k objects) would otherwise be rescanned after each one
    assert len({r.pid for r in rows}) < len(rows)
    assert max(r.unfrozen for r in rows) < 5_000
