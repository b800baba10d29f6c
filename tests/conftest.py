from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from physioview_spark.session import get_spark

    s = get_spark("physioview-tests", shuffle_partitions=8,
                  extra_conf={"spark.ui.enabled": "false",
                              "spark.sql.ansi.enabled": "true"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` -> (fn's result, number of Spark jobs fn
    started), read from the status tracker under a job group of its own
    once the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
