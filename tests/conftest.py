import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def local_session():
    """The test session: local[4], 4 shuffle partitions."""
    return (
        SparkSession.builder.master("local[4]")
        .appName("delta_lake_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )


@pytest.fixture(scope="session")
def spark():
    s = local_session()
    yield s
    s.stop()


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "tbl")


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
