import itertools
import os
import sys
from typing import Any, NamedTuple

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


class SparkWork(NamedTuple):
    result: Any
    jobs: int
    actions: int


@pytest.fixture(scope="session")
def spark_work(spark):
    """``spark_work(fn)`` runs ``fn`` under a job group of its own and
    returns ``SparkWork(result, jobs, actions)``: what ``fn`` returned,
    the Spark jobs it ran and its SQL actions (query executions, each
    of which may run several jobs under AQE)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    labels = itertools.count()

    def run(fn):
        group = f"spark_work_{next(labels)}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        # an execution takes the job description as its own
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        executions = store.executionsList().iterator()
        actions = 0
        while executions.hasNext():
            actions += executions.next().description() == group
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return SparkWork(result, jobs, actions)

    return run
