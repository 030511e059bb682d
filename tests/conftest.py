import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from good_enough_timecamp_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def spare_jvm_memory():
    """For a test that starts another JVM: by then the suite's session JVM
    (a max heap of up to half the host's memory) can hold most of that
    heap, and a second JVM on top of it competes for the rest. A full GC
    lets G1 give back the heap it does not use."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active._jvm.java.lang.System.gc()
