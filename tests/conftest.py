from __future__ import annotations

import pytest

from glue_jobs_for_data_pipeline_spark import runner
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
    counted like the query runner counts them."""

    def count(fn) -> int:
        return sum(runner.count_jobs(spark, fn))

    return count
