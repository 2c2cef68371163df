from __future__ import annotations

import pytest

from ipeds_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ipeds_etl_spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _jobs_in_group(spark, group: str, fn) -> int:
    """Spark jobs ``fn()`` ran, read from the status store by job group
    (the way ``perfbench/tracer.py`` attributes jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def jobs_in_group():
    return _jobs_in_group
