from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from comix_etl_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("comix_etl_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh Spark job group and
    returns (fn's result, the number of Spark jobs it launched)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count_jobs_{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
