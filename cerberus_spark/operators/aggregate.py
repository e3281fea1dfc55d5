"""Per-key profiling aggregation — the reference's DeviceInfo state
(internal/models/types.go:117-140, updated in TrackEvent
monitor.go:322-368) as ONE associative groupBy.

The reference serializes all of this under a global mutex
(monitor.go:198-199); the Spark version is partial (map-side) + final
hash aggregation — the single change that makes ≥0.8 scaling
efficiency possible.  Counting maps (TrafficTypeCounts, Services —
monitor.go:328-329) become MapType columns assembled from grouped
counts; min/max timestamps (:285-286,:323) are F.min/F.max; the
last-value column (:324-326) is F.max_by; the bounded distinct target
list (:363-368) is a capped sorted collect_set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def key_profile(
    df: DataFrame,
    key: str,
    label_col: str,
    ts_col: str,
    value_col: str | None = None,
    target_col: str | None = None,
    max_targets: int = 20,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """One row per key: counts, per-label counting map, first/last seen,
    last label (deterministic), optional bounded distinct target list.

    Single shuffle on ``key``.  The per-label map needs counts per
    (key,label) first, so it is computed in the same job via a map
    built from conditional aggregation would be wrong for unbounded
    label domains — instead we do the classic two-level groupBy:
    (key,label) counts -> re-group by key with map_from_entries.  Both
    aggregations hash-partition by (a prefix of) the same key, and AQE
    coalesces the small second shuffle.

    A NULL label counts in ``n_events`` and can be ``last_label``, but
    has no ``label_counts`` entry: a map key cannot be NULL.
    """
    order = F.struct(F.col(ts_col), F.col(tiebreak_col)) if tiebreak_col else F.col(ts_col)

    per_label = (
        df.groupBy(key, label_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(ts_col).alias("first_seen_l"),
            F.max(ts_col).alias("last_seen_l"),
            *( [F.sum(value_col).alias("sum_v")] if value_col else [] ),
        )
    )
    aggs = [
        F.sum("n").alias("n_events"),
        F.map_from_entries(
            F.filter(
                F.sort_array(F.collect_list(F.struct(F.col(label_col), F.col("n")))),
                lambda e: e[label_col].isNotNull(),
            )
        ).alias("label_counts"),
        F.min("first_seen_l").alias("first_seen"),
        F.max("last_seen_l").alias("last_seen"),
    ]
    if value_col:
        aggs.append(F.sum("sum_v").alias("total_value"))
    profile = per_label.groupBy(key).agg(*aggs)

    # deterministic last label: max_by over (ts, tiebreak)
    last_lbl = df.groupBy(key).agg(
        F.max_by(F.col(label_col), order).alias("last_label")
    )
    out = profile.join(last_lbl, on=key, how="inner")

    if target_col:
        # bounded distinct list (reference keeps first 20 distinct
        # targets FIFO; we keep the first `max_targets` by event order,
        # deterministically): collect (order, target), sort, dedup
        # preserving earliest, cap.
        tgt = (
            df.filter(F.col(target_col).isNotNull())
            .groupBy(key, target_col)
            .agg(F.min(order).alias("first_ord"))
            .groupBy(key)
            .agg(
                F.slice(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct(F.col("first_ord"), F.col(target_col).alias("t")))),
                        lambda s: s.getField("t"),
                    ),
                    1,
                    max_targets,
                ).alias("targets")
            )
        )
        out = out.join(tgt, on=key, how="left")
    return out


def salted_count_map(
    df: DataFrame,
    key: str,
    label_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation for skewed keys (SURVEY.md §7).

    Stage 1 groups by (key, label, salt) — the hot key's rows spread
    over ``n_salts`` reducers; stage 2 merges the partial counts.
    Equivalent results to a direct groupBy, bounded per-task state.
    """
    # the salt must vary WITHIN a hot key, so derive it from row
    # position, not from the key itself; it only affects routing, never
    # results, so monotonically_increasing_id is safe here
    salted = df.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    partial = salted.groupBy(key, label_col, "_salt").agg(F.count(F.lit(1)).alias("pn"))
    return partial.groupBy(key, label_col).agg(F.sum("pn").alias("n"))
