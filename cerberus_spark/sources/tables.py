"""The contract's parquet tables (TESTDATA.md), and helpers that build
small tables and spread input without a Python task."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: an exchange node's line in a physical plan's tree string
_EXCHANGE_NODE = re.compile(r"^[\s:+\-*()\d]*\w*Exchange\b", re.M)


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow input across all cores before expression-heavy work.

    A single small parquet file scans as ONE partition, serializing any
    downstream per-row compute (regex/md5/shingling) onto one core.  On
    a real 100 TB table input splits >> cores so this is a no-op (we
    only repartition UP); the round-robin shuffle on a small table is
    microseconds against minutes of serialized compute.

    Decided without running the plan.  A plan with an exchange is
    returned as is: the exchange already spread its rows (AQE sizes
    them against the default parallelism), and counting its output
    partitions would run its shuffle stages now, once, for nothing.
    Exchange-free plans (scans, local tables, checkpoints, Python
    passes over them) report their partitions without a job.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if _EXCHANGE_NODE.search(df._jdf.queryExecution().executedPlan().toString()):
        return df
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


def local_table(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A small in-memory table (``rows``: tuples in ``schema`` order)
    as a DataFrame, shipped to the JVM as Arrow.

    ``createDataFrame(list)`` plans a ``Scan ExistingRDD`` over a Python
    RDD, so every read of it starts one Python worker task per
    partition, about 0.25 s of CPU each (PySpark 4.1 on a 4-core x86
    host), mostly Python re-reading ``pyspark.zip`` after PySpark's
    per-task ``importlib.invalidate_caches()``.  An Arrow
    table plans a ``LocalTableScan`` that the JVM reads with no Python.
    Types and nullability are ``schema``'s.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
