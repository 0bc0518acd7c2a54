from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from project_2_semantic_similarity_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    # release every persisted replacement slot so cross-test memory
    # accounting (test_no_leaked_cache_entries) sees a clean teardown
    from project_2_semantic_similarity_spark.operators.cache import (
        clear_slots)

    clear_slots()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def run_counting_jobs(spark):
    """``run_counting_jobs(group, fn)`` -> (fn(), number of Spark jobs
    fn ran). The status tracker fills from the asynchronous listener
    bus, so it is drained before the count is read."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, "job count")
        try:
            got = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return got, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
