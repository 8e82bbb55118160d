"""build_session's host-derived defaults, without starting Spark."""

import os

from eventrelationextractor_spark.spark import session

GIB = 2**30


def test_driver_memory_is_half_the_host_capped_at_12g():
    assert session.driver_memory(16 * GIB) == "8192m"
    assert session.driver_memory(15 * GIB + 123) == "7680m"
    assert session.driver_memory(2 * GIB) == "1024m"
    assert session.driver_memory(24 * GIB) == "12288m"
    assert session.driver_memory(128 * GIB) == "12288m"


def test_host_memory_is_at_most_physical_memory():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < session._host_memory_bytes() <= physical


def test_worker_confs_select_the_module_on_local_masters():
    confs = session.worker_confs("local[4]")
    assert confs == {"spark.python.worker.module": "pyspark_erex_worker",
                     "spark.executorEnv.PYTHONPATH": session.WORKER_DIR}
    assert os.path.isfile(os.path.join(session.WORKER_DIR,
                                       "pyspark_erex_worker.py"))


def test_worker_confs_merge_the_callers_pythonpath():
    extra = {"spark.executorEnv.PYTHONPATH": "/srv/app:/srv/lib",
             "spark.driver.memory": "2g"}
    confs = session.worker_confs("local[2]", extra)
    assert confs["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [session.WORKER_DIR, "/srv/app:/srv/lib"])
    assert confs["spark.driver.memory"] == "2g"
    assert extra["spark.executorEnv.PYTHONPATH"] == "/srv/app:/srv/lib"


def test_worker_confs_keep_an_explicit_worker_module():
    confs = session.worker_confs(
        "local[2]", {"spark.python.worker.module": "pyspark.worker"})
    assert confs["spark.python.worker.module"] == "pyspark.worker"


def test_worker_confs_leave_cluster_masters_alone():
    extra = {"spark.executorEnv.PYTHONPATH": "/srv/app"}
    assert session.worker_confs("yarn", extra) == extra
    assert session.worker_confs("spark://head:7077") == {}
