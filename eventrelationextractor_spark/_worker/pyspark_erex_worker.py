"""Spark Python worker (``spark.python.worker.module``): pyspark's own
worker, minus the zip re-reads, started from a preloaded, frozen heap.

* Each task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
  which makes every ``zipimporter`` re-read its archive's central directory
  (pyspark.zip, py4j, the spark-core jar); the archives never change while
  a worker lives.
* pyspark's daemon imports this module once, before it forks a worker per
  connection, and a reused worker runs a full ``gc.collect()`` after every
  task. So the module imports the per-document core, the pandas/Arrow
  stack that every Arrow task imports, and loads the lexicons here, where
  every forked worker inherits them; then it freezes the heap, so the
  per-task collect no longer rescans the ~74k long-lived objects of those
  modules.
* The core is imported from the package that holds this module: its root
  (the source tree, or the ``--py-files`` zip, which is not on the path
  until a task's ``setup_spark_files``) goes first on ``sys.path``.

The daemon imports a worker module only if its name starts with
``pyspark``."""

import gc
import os
import sys
import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

from pyspark.worker import main  # noqa: E402,F401

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

import pandas  # noqa: E402,F401
import pyarrow  # noqa: E402,F401
import pyspark.sql.pandas.serializers  # noqa: E402,F401
import pyspark.sql.pandas.types  # noqa: E402,F401

import eventrelationextractor_spark.core.pipeline  # noqa: E402,F401
import eventrelationextractor_spark.spark.stages  # noqa: E402,F401
from eventrelationextractor_spark.core.lexicons import (  # noqa: E402
    load_lexicons)

load_lexicons()
gc.freeze()

if __name__ == "__main__":          # spark.python.use.daemon=false
    import runpy
    runpy.run_module("pyspark.worker", run_name="__main__")
