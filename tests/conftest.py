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


def run_stream_to_memory(spark, src_dir, src_schema, transform, query_name, output_mode="append"):
    """Replay the parquet directory ``src_dir`` as a stream through
    ``transform`` into the memory table ``query_name`` (availableNow
    trigger) and return that table once the replay ends.  ``complete``
    mode gives windowed aggregations their final answer; ``append``
    emits only the windows the watermark sealed."""
    stream = spark.readStream.schema(src_schema).parquet(src_dir)
    q = (
        transform(stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


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


@pytest.fixture
def contract_pair(spark, tmp_path):
    """``contract_pair(name, table, df)`` writes ``df`` as the contract
    table ``table`` under a temporary scale-factor directory, runs the
    contract query ``name`` on Spark and its oracle SQL on DuckDB over
    it, asserts both return the same column names and returns
    ``(spark_rows, duckdb_rows)``: tuples in the Spark query's column
    order, sorted."""
    import duckdb

    import __spark_entry__ as entry

    def run(name, table, df):
        sf_dir = str(tmp_path)
        df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
        out = entry.queries()[name](spark, sf_dir)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet/*.parquet'"
        )
        res = con.execute(entry.oracle_sql()[name])
        cols = [d[0] for d in res.description]
        assert sorted(out.columns) == sorted(cols), (out.columns, cols)
        order = [cols.index(c) for c in out.columns]
        want = [tuple(r[i] for i in order) for r in res.fetchall()]
        return sorted(map(tuple, out.collect()), key=repr), sorted(want, key=repr)

    return run
