from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def jobs_run(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = "jobs-" + uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from parallel_dbms_spark.session import get_spark

    s = get_spark(app_name="pytest", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 8)))
    yield s


@pytest.fixture(scope="session")
def duck():
    from oracle_compare import duck_connect

    return duck_connect(SF_CORRECT)
