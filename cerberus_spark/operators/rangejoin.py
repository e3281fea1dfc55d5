"""Interval (range) join: match point rows to [start, end) intervals
without a nested-loop join.

Spark plans a raw ``p.ts >= i.start AND p.ts < i.end`` join as
BroadcastNestedLoopJoin (every point × every interval) — fine for a
handful of intervals, quadratic death at scale.  The standard fix is
chunk bucketing: explode each interval into the fixed-width time chunks
it covers, equi-join points on their chunk, then re-check the exact
bounds.  Cost: |intervals| × (duration/chunk) exploded rows and ONE
hash-partitioned equi-join — linear, shuffle-keyed, AQE-skew-safe.
Pick ``chunk_seconds`` ≈ typical interval length so most intervals
explode to 1-2 chunks.

Overlapping intervals are allowed; a point matches every interval that
contains it (same semantics as the theta join it replaces).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    ts_col: str,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    chunk_seconds: int = 86_400,
) -> DataFrame:
    """Inner-join each point row to the interval rows with
    ``start <= ts < end`` (half-open).  Output: point columns +
    interval columns.
    """
    chunk = F.lit(chunk_seconds)

    def chunk_of(col):
        return F.floor(F.unix_timestamp(col) / chunk).cast("long")

    # explode every interval into the chunk ids it covers; end is
    # exclusive so an interval ending exactly on a chunk boundary does
    # not bleed into the next chunk
    last_chunk = F.floor(
        (F.unix_timestamp(F.col(end_col)) - 1) / chunk
    ).cast("long")
    iv = intervals.withColumn(
        "_chunk", F.explode(F.sequence(chunk_of(F.col(start_col)), last_chunk))
    )
    pt = points.withColumn("_chunk", chunk_of(F.col(ts_col)))
    cond = (
        (pt["_chunk"] == iv["_chunk"])
        & (pt[ts_col] >= iv[start_col])
        & (pt[ts_col] < iv[end_col])
    )
    return pt.join(iv, cond).drop(pt["_chunk"]).drop(iv["_chunk"])
