from __future__ import annotations

import os
import sys
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

#: the checkout these tests run from: ``jobs``, ``__spark_entry__`` and
#: the package import from here
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from cerberus_spark.session import get_spark  # noqa: E402


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
