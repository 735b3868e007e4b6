from __future__ import annotations

import itertools

import pytest

from aether_elasticsearch_consumer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def jobs_in(spark):
    """``jobs_in(fn)``: the Spark jobs ``fn()`` runs, counted through a
    fresh job group."""
    sc = spark.sparkContext
    groups = itertools.count()

    def count(fn) -> int:
        group = f"jobs-in-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
