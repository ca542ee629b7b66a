from __future__ import annotations

import uuid

import pytest

from glue_jobs_for_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)``: the number of Spark jobs ``fn`` submits,
    counted by job group."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
