import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
GOLDEN = os.path.join(HERE, "golden")


def fixture_path(name: str) -> str:
    return os.path.join(FIXTURES, name)


def golden_rows(name: str) -> list:
    path = os.path.join(GOLDEN, name)
    with open(path, encoding="utf-8") as f:
        return [tuple(line.rstrip("\n").split("\t"))
                for line in f if line.strip()]


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from pyspark.sql import SparkSession

    from eventrelationextractor_spark.spark.session import worker_confs
    master = os.environ.get("SPARK_GRAFT_MASTER", "local[4]")
    spark = (SparkSession.builder
             .master(master)
             .appName("erex-tests")
             .config("spark.sql.warehouse.dir",
                     tempfile.mkdtemp(prefix="erex-warehouse-"))
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "4g")
             .config(map=worker_confs(master))
             .getOrCreate())
    yield spark
    spark.stop()
