from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from dropbox_duckdb_playground_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture()
def jobs_in_group(spark):
    """``count(group, fn)``: run ``fn()`` under Spark job group ``group``
    and return how many Spark jobs the group launched."""
    sc = spark.sparkContext

    def count(group, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
