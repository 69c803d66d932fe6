import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from big_data_analytics_project_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from big_data_analytics_project_spark.verify import duck_connect

    return duck_connect(sf_dir)


@pytest.fixture(scope="session")
def registry():
    from big_data_analytics_project_spark.registry import load_all

    return load_all()


def _jobs_submitted(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn`` submits, recorded through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
