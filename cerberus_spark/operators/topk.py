"""Deterministic top-k per group.

The reference's "top-3 domains" / "top-5 services" reports iterate a Go
map and stop after k — arbitrary, randomized order
(internal/monitor/monitor.go:543-549, :564-572).  That nondeterminism
is a bug-shaped HOW; the WHAT is top-k, so we implement it properly:
rank by count desc with a total tiebreak, keep rank ≤ k.

Scale: groupBy first (shrinks to |group×label| rows), THEN the window —
the window runs over pre-aggregated counts, not raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    group: str,
    label: str,
    k: int,
) -> DataFrame:
    """(group, label, n, rk) with rk ≤ k; ties broken by label asc."""
    counted = df.groupBy(group, label).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(group).orderBy(F.col("n").desc(), F.col(label).asc())
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
