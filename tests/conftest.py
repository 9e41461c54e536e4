import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: F401

from replay_spark.session import get_spark_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    yield get_spark_session(
        app_name="replay_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )


@pytest.fixture(scope="session")
def interactions(spark):
    """Canonical 7-row fixture mirroring the reference test log
    (/root/reference/tests/conftest.py:50-60): 3 users x 4 items."""
    import datetime

    rows = [
        (0, 0, datetime.datetime(2019, 8, 22), 4.0),
        (0, 1, datetime.datetime(2019, 8, 23), 3.0),
        (0, 2, datetime.datetime(2019, 8, 27), 2.0),
        (1, 0, datetime.datetime(2019, 8, 24), 3.0),
        (1, 1, datetime.datetime(2019, 8, 25), 4.0),
        (2, 1, datetime.datetime(2019, 8, 26), 5.0),
        (2, 3, datetime.datetime(2019, 8, 26), 5.0),
    ]
    return spark.createDataFrame(
        rows, "query_id int, item_id int, timestamp timestamp, rating double"
    )


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
