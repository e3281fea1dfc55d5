from __future__ import annotations

from contextlib import contextmanager
from types import SimpleNamespace

import pytest

from cerberus_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(parallelism=8, driver_memory="8g", app_name="cerberus_spark_tests")
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs() as jobs: ...`` then ``jobs.n`` is the number
    of Spark jobs started inside the block (the DAG scheduler's next
    job id before and after it)."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    @contextmanager
    def counting():
        jobs = SimpleNamespace(n=None)
        before = scheduler.nextJobId()
        yield jobs
        jobs.n = scheduler.nextJobId() - before

    return counting
