"""Exact uniqueness on a natural key at arbitrary scale.

The reference enforces key uniqueness implicitly via map upsert
(internal/monitor/monitor.go:398).  At 10^12 rows the only correct
shape is a shuffle hash-aggregation on the key — partial (map-side)
counts then a final merge; never a collect, never a window over the
whole table.  AQE coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def uniqueness_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys appearing more than once: (*keys, n_dup).  One scan, one
    shuffle keyed on the key, map-side partial combine; NULL keys
    group together."""
    return df.groupBy(*keys).agg(F.expr("count(1) AS n_dup")).where("n_dup > 1")
