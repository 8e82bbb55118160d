"""Spark Python worker (``spark.python.worker.module``): pyspark's own
worker, minus the zip re-reads. Each task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which makes every ``zipimporter`` re-read
its archive's central directory (pyspark.zip, py4j, the spark-core jar);
the archives never change while a worker lives. The daemon imports a
worker module only if its name starts with ``pyspark``."""

import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

from pyspark.worker import main  # noqa: E402,F401

if __name__ == "__main__":          # spark.python.use.daemon=false
    import runpy
    runpy.run_module("pyspark.worker", run_name="__main__")
