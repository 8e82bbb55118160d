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
* The preload runs only when the importable ``eventrelationextractor_spark``
  is the package this file belongs to. Shipped with ``--py-files``, the zip
  is not on the path until a task's ``setup_spark_files``; the tasks then
  import the core themselves, and only the freeze applies.

The daemon imports a worker module only if its name starts with
``pyspark``."""

import gc
import importlib.util
import os
import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

from pyspark.worker import main  # noqa: E402,F401


def _own_package() -> bool:
    """Whether ``eventrelationextractor_spark`` resolves to the package
    that holds this module."""
    spec = importlib.util.find_spec("eventrelationextractor_spark")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return spec is not None and any(
        os.path.abspath(p) == here
        for p in spec.submodule_search_locations or ())


if _own_package():
    import pandas  # noqa: E402,F401
    import pyarrow  # noqa: E402,F401
    import pyspark.sql.pandas.serializers  # noqa: E402,F401
    import pyspark.sql.pandas.types  # noqa: E402,F401

    import eventrelationextractor_spark.core.pipeline  # noqa: E402,F401
    import eventrelationextractor_spark.core.timegraph  # noqa: E402,F401
    import eventrelationextractor_spark.spark.stages  # noqa: E402,F401
    from eventrelationextractor_spark.core.lexicons import load_lexicons

    load_lexicons()

gc.freeze()

if __name__ == "__main__":          # spark.python.use.daemon=false
    import runpy
    runpy.run_module("pyspark.worker", run_name="__main__")
