"""Per-column profiling: null rates, cardinality, extremes, quantiles.

Analog of the reference's per-device profiling aggregates
(internal/models/types.go:117-140, updates monitor.go:322-368), lifted
to whole-column scope.  Exact distincts use ``count_distinct``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-form profile: one row per column.

    Single aggregation job: all per-column measures are computed in ONE
    ``agg`` (partial aggregation map-side), then unpivoted driver-free
    via a stack of struct literals.
    """
    columns = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        col = F.col(c)
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"))
        aggs.append(F.count_distinct(col).alias(f"__nd_{c}"))
        aggs.append(F.min(col).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(col).cast("string").alias(f"__max_{c}"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("__rows").alias("n_rows"),
            F.col(f"__nulls_{c}").alias("n_null"),
            (F.col(f"__nulls_{c}") / F.col("__rows")).alias("null_rate"),
            F.col(f"__nd_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in columns
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def numeric_quantiles(df: DataFrame, column: str, probs: list[float]) -> DataFrame:
    """Exact interpolated percentiles (matches SQL ``quantile_cont``).

    Exact ``percentile`` sorts per-group state — fine for bench/oracle
    scale; at 10^12 rows use ``percentile_approx`` (t-digest-style
    mergeable sketch) instead.
    """
    arr = F.expr(
        f"percentile({column}, array({', '.join(str(p) for p in probs)}))"
    ).alias("qs")
    wide = df.agg(arr)
    pairs = [
        F.struct(F.lit(p).alias("p"), F.col("qs").getItem(i).alias("value"))
        for i, p in enumerate(probs)
    ]
    return wide.select(F.explode(F.array(*pairs)).alias("q")).select(
        F.lit(column).alias("column_name"), "q.p", "q.value"
    )


def outliers_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    threshold: float = 4.0,
) -> DataFrame:
    """Rows whose ``value_col`` deviates more than ``threshold``
    population standard deviations from its (per-group) mean:
    all original columns plus the rounded ``zscore``.

    Scale shape: per-group mean/stddev is ONE partial-aggregated
    groupBy whose result is |groups|-sized, broadcast back onto the
    scan — the data itself is never shuffled or windowed (a Window
    over the groups would re-sort the whole table for two moments).
    Groups with zero variance flag nothing (every value is the mean).
    Global mode (``group_cols=None``) is the same plan with a 1-row
    broadcast.
    """
    gcols = group_cols or []
    stats = (
        df.groupBy(*gcols).agg(
            F.avg(F.col(value_col)).alias("_mu"),
            F.stddev_pop(F.col(value_col)).alias("_sigma"),
        )
    )
    joined = (
        df.join(F.broadcast(stats), on=gcols, how="inner")
        if gcols
        else df.crossJoin(F.broadcast(stats))
    )
    # round BEFORE thresholding (repo determinism rule): membership of
    # near-boundary rows must not depend on engine float-sum order
    z = F.round((F.col(value_col) - F.col("_mu")) / F.col("_sigma"), 6)
    return (
        joined.filter((F.col("_sigma") > 0) & (F.abs(z) > F.lit(float(threshold))))
        .withColumn("zscore", z)
        .drop("_mu", "_sigma")
    )


def functional_dependency_violations(
    df: DataFrame,
    determinant_cols: list[str],
    dependent_col: str,
    max_examples: int = 5,
) -> DataFrame:
    """Keys violating the functional dependency
    ``determinant_cols -> dependent_col``: determinant values mapping
    to more than one distinct dependent value, with the violation
    cardinality and a bounded, DETERMINISTIC sample of the conflicting
    values (sorted, first ``max_examples``).

    Scale shape: ONE shuffle on the determinant after a map-side
    distinct-ish partial agg of (det, dep) pairs; reduce state per key
    is the capped sorted example array, never the full group.
    """
    dep = F.col(dependent_col)
    return (
        df.groupBy(*determinant_cols)
        .agg(
            F.count_distinct(dep).alias("n_dependent"),
            F.slice(
                F.array_sort(F.collect_set(dep.cast("string"))),
                1,
                max_examples,
            ).alias("examples"),
        )
        .filter(F.col("n_dependent") > 1)
    )


def outliers_mad(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    threshold: float = 3.5,
) -> DataFrame:
    """Rows whose modified z-score ``0.6745 * (x - median) / MAD``
    exceeds ``threshold`` in absolute value (Iglewicz-Hoaglin robust
    outlier rule): all original columns plus the rounded ``mad_z``.

    Robust counterpart of :func:`outliers_zscore` — a single extreme
    value inflates mean AND stddev (masking itself); median/MAD have a
    50% breakdown point.  Scale shape: exact medians are order
    statistics, so this is TWO passes over the scan (median, then
    median of |x - median|), each a |groups|-sized partial-agg'd
    groupBy broadcast back — the table itself is never shuffled or
    windowed.  At 10^12 rows swap ``percentile`` for
    ``percentile_approx`` (mergeable sketch) at the two call sites.
    Groups with MAD = 0 (over half the values identical) flag nothing.
    """
    gcols = group_cols or []
    v = F.col(value_col)
    med = df.groupBy(*gcols).agg(F.expr(f"percentile({value_col}, 0.5)").alias("_med"))

    def _join(left: DataFrame, right: DataFrame) -> DataFrame:
        return (
            left.join(F.broadcast(right), on=gcols, how="inner")
            if gcols
            else left.crossJoin(F.broadcast(right))
        )

    mad = (
        _join(df, med)
        .groupBy(*gcols)
        .agg(F.expr(f"percentile(abs({value_col} - _med), 0.5)").alias("_mad"))
    )
    joined = _join(_join(df, med), mad)
    # round BEFORE thresholding (repo determinism rule)
    z = F.round(F.lit(0.6745) * (v - F.col("_med")) / F.col("_mad"), 6)
    return (
        joined.filter((F.col("_mad") > 0) & (F.abs(z) > F.lit(float(threshold))))
        .withColumn("mad_z", z)
        .drop("_med", "_mad")
    )


def volume_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    trailing: int = 6,
    min_ratio: float = 0.5,
    max_ratio: float = 2.0,
) -> DataFrame:
    """Event-time windows whose row count deviates from the mean of the
    ``trailing`` preceding windows by more than the ratio band — the
    operational "did ingestion silently break / double-fire" check the
    reference approximates with eyeballed periodic stats dumps
    (internal/monitor/monitor.go:514-584).

    Output: (window_start, n_events, trailing_mean, ratio, anomaly)
    for every window with a full trailing context.  Ratio is rounded
    BEFORE the band test (repo determinism rule).

    Scale shape: ONE partial-agg'd groupBy to |windows| rows, then the
    lag/mean window functions run on that |windows|-sized frame —
    never on data.  Gaps: only PRESENT windows count (an entirely
    empty window is invisible to a count-based monitor; pair with
    contiguity checks to catch full outages).
    """
    from pyspark.sql import Window as W

    counts = df.groupBy(
        F.window(ts_col, window_duration).alias("w")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    ordered = W.orderBy(F.col("w.start")).rowsBetween(-trailing, -1)
    out = (
        counts.withColumn("trailing_mean", F.avg("n_events").over(ordered))
        .withColumn("n_trailing", F.count("n_events").over(ordered))
        .filter(F.col("n_trailing") == trailing)
        .withColumn(
            "ratio", F.round(F.col("n_events") / F.col("trailing_mean"), 6)
        )
        .withColumn(
            "anomaly",
            (F.col("ratio") < F.lit(float(min_ratio)))
            | (F.col("ratio") > F.lit(float(max_ratio))),
        )
    )
    return out.select(
        F.col("w.start").alias("window_start"),
        "n_events",
        F.round(F.col("trailing_mean"), 6).alias("trailing_mean"),
        "ratio",
        "anomaly",
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lo_p: float = 0.01,
    hi_p: float = 0.99,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Clip ``value_col`` into its (per-group) [lo_p, hi_p] quantile
    envelope — the standard heavy-tail normalization before numeric
    features feed a training mix.  Adds ``<value_col>_w``; original
    column untouched; NULLs pass through as NULL.

    Scale shape: the quantile pair is ONE |groups|-sized
    order-statistic aggregate broadcast back onto the scan (same shape
    as outliers_mad); the clip itself is a codegen'd scalar
    expression.  At 10^12 rows swap ``percentile`` for
    ``percentile_approx`` at the single call site.
    """
    gcols = group_cols or []
    q = df.groupBy(*gcols).agg(
        F.expr(f"percentile({value_col}, array({lo_p}, {hi_p}))").alias("_qs")
    ).select(
        *gcols,
        F.col("_qs")[0].alias("_lo"),
        F.col("_qs")[1].alias("_hi"),
    )
    joined = (
        df.join(F.broadcast(q), on=gcols, how="left")
        if gcols
        else df.crossJoin(F.broadcast(q))
    )
    v = F.col(value_col)
    # explicit null gate: greatest/least SKIP nulls (a NULL value would
    # silently clip to _lo instead of staying NULL)
    clipped = F.when(
        v.isNotNull(), F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    )
    return joined.withColumn(f"{value_col}_w", clipped).drop("_lo", "_hi")
