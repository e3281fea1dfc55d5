"""As-of (point-in-time) join: for every left row, the most recent
right row at or before the left row's timestamp, per key.

The classic time-series enrichment (market data, feature stores,
"state as of event time").  The reference's analog is its read-through
device-state lookup at event arrival time (internal/monitor/
monitor.go:265-276) — here generalized to a set-oriented batch
operator.

Scale shape: a naive implementation is a range join
(l.key = r.key AND r.ts <= l.ts) + argmax — the inequality makes every
left row meet every earlier right row of its key, O(|L|·|R|) within
key at worst.  Instead we use the union-and-carry-forward plan:

    union(left-tagged, right-tagged)
      -> ONE shuffle on key
      -> ONE partition-local sort on (ts, side, tiebreak)
      -> last(struct(right_ts, values...), ignorenulls=True) running
         window carries the WHOLE matched right row forward until the
         next right row; the struct is non-null for every right row, so
         a right row whose value column is NULL still wins the match
         (the NULL rides inside the struct instead of being skipped)
      -> keep left rows, unpack the struct

Cost is one shuffle + one sort of |L|+|R| rows — the same plan shape
Spark uses for any window, linear in data, no range-join blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tiebreak: str | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Left backward as-of join (inclusive: a right row AT the left
    timestamp is visible).

    Returns every ``left`` row plus, for each ``value_cols`` entry
    ``v``, a column ``v + suffix`` holding the value from the matched
    ``right`` row (NULL when none exists), and ``right_ts + suffix``
    with its timestamp.  It matches the LATEST right row with
    ``right_ts <= left_ts``, via one single-shuffle carry-forward window.

    ``tiebreak`` orders right rows sharing (key, ts) — pass a unique
    right column for a deterministic winner: the LARGEST tiebreak wins
    ("latest write").
    """
    out_ts = right_ts + suffix
    carried = [right_ts] + list(value_cols)
    left_cols = left.columns
    # one struct per right row: non-null whenever a right row exists,
    # even if every value column inside it is NULL — last(ignorenulls)
    # then matches rows, not values (a matched NULL stays NULL instead
    # of falling back to an older row's value)
    row_t = T.StructType([T.StructField(c, right.schema[c].dataType) for c in carried])
    # side flag orders right rows BEFORE left rows at equal ts so an
    # equal-timestamp right row is visible to the left row (inclusive)
    l_tagged = left.select(
        *left_cols,
        F.col(left_ts).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_tb"),
        F.lit(None).cast(row_t).alias("_r"),
    )
    tb = F.col(tiebreak).cast("long") if tiebreak else F.lit(0).cast("long")
    # right rows carry the (shared-name) key columns; every other left
    # column rides as NULL through the union
    r_tagged = right.select(
        *[
            F.col(c) if c in key_cols else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
        ],
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        tb.alias("_tb"),
        F.struct(*[F.col(c).alias(c) for c in carried]).alias("_r"),
    )
    both = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("_ats").asc(), F.col("_side").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = both.select(
        *left_cols,
        F.col("_side"),
        F.last(F.col("_r"), ignorenulls=True).over(w).alias("_m"),
    )
    return filled.filter(F.col("_side") == 1).select(
        *left_cols,
        F.col("_m")[right_ts].alias(out_ts),
        *[F.col("_m")[c].alias(c + suffix) for c in value_cols],
    )
