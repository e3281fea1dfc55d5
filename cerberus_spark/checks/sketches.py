"""Mergeable sketches: quantiles (fixed-bin histogram states) and
frequent items (top-k with an undercount bound) — the re-aggregatable
answer to percentile and heavy-hitter rollups.

Exact percentiles and exact top-k cannot be rolled up (the p95 of each
day does not give the p95 of the month), so warehouse rollups either
rescan raw data or store sketches.  Both states here merge
associatively and order-insensitively, so per-partition partials,
per-day groups and multi-table unions all combine without rescanning;
this is the reference's periodic-stats report (S12,
internal/monitor/monitor.go:514-584) done the way a 100 TB warehouse
has to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def histogram_group_sketches(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Mergeable quantile sketch per key group: a fixed-bin histogram
    ``state: array<long>`` of length n_bins+2 ([underflow, bins...,
    overflow]) over the declared [lo, hi) range.

    Spark exposes a mergeable accumulator for HLL but not for
    quantiles (percentile_approx state is internal), so this is the
    engine's re-aggregatable quantile shape: merge = element-wise SUM —
    associative, commutative, and EXACT (union-of-groups is
    bit-identical to a direct global sketch; the pytest invariant and
    the DuckDB oracle both prove it).  Rank error is bounded by the
    largest bin's mass; width error by (hi-lo)/n_bins.  Needs a known
    value range — the natural fit for bounded metrics (scores, rates,
    lengths with a cap), the same binning the drift checks use.

    One shuffle on (keys, bin) for partial counts + one |keys|-sized
    rebuild — both map-side combined.
    """
    v = F.col(value_col)
    width = (hi - lo) / n_bins
    bin_idx = (
        F.when(v < F.lit(lo), F.lit(0))
        .when(v >= F.lit(hi), F.lit(n_bins + 1))
        .otherwise((F.floor((v - F.lit(lo)) / F.lit(width)) + 1).cast("int"))
    )
    counts = (
        df.filter(v.isNotNull())
        .groupBy(*key_cols, bin_idx.alias("_bin"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    state = counts.groupBy(*key_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("_bin", "_cnt"))).alias("_m")
    )
    idxs = F.sequence(F.lit(0), F.lit(n_bins + 1))
    return state.select(
        *key_cols,
        F.transform(
            idxs, lambda i: F.coalesce(F.col("_m")[i], F.lit(0).cast("long"))
        ).alias("state"),
    )


def histogram_rollup(
    sketches: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """Merge histogram states up a level WITHOUT rescanning raw data:
    element-wise sum via posexplode -> (keys, pos)-keyed sum -> array
    rebuild.  Empty ``key_cols`` -> one global row."""
    keys = key_cols or []
    ex = sketches.select(*keys, F.posexplode("state").alias("_pos", "_c"))
    summed = ex.groupBy(*keys, "_pos").agg(F.sum("_c").alias("_c"))
    rebuilt = summed.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("_pos", "_c"))).alias("_m"),
        F.max("_pos").alias("_n"),
    )
    idxs = F.sequence(F.lit(0), F.col("_n"))
    return rebuilt.select(
        *keys,
        F.transform(idxs, lambda i: F.col("_m")[i]).alias("state"),
    )


def histogram_quantile(
    state: Column | str, q: float, lo: float, hi: float
) -> Column:
    """Quantile estimate from a histogram state column: find the bin
    holding the q-th ranked value (cumulative walk via aggregate) and
    linearly interpolate inside it.  Underflow/overflow clamp to
    lo/hi.  Pure Catalyst expression — usable per-row on a sketch
    table."""
    s = F.col(state) if isinstance(state, str) else state
    n_arr = F.size(s)          # n_bins + 2
    n_bins = n_arr - 2
    width = (F.lit(hi) - F.lit(lo)) / n_bins
    total = F.aggregate(s, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.greatest(F.ceil(F.lit(q) * total).cast("long"), F.lit(1).cast("long"))
    # walk: acc = (remaining_rank, found_bin, mass_before, bin_count)
    init = F.struct(
        target.alias("rem"),
        F.lit(-1).cast("long").alias("bin"),
        F.lit(0).cast("long").alias("inbin"),
        F.lit(0).cast("long").alias("cnt"),
    )

    def step(acc, x):
        found = acc.getField("bin") >= 0
        hit = (~found) & (x >= acc.getField("rem"))
        # index being walked = how many we've consumed so far; recover
        # it implicitly by counting via a second fold is awkward, so
        # carry it in "cnt" while unfound
        return F.struct(
            F.when(found | hit, acc.getField("rem"))
            .otherwise(acc.getField("rem") - x)
            .alias("rem"),
            F.when(found, acc.getField("bin"))
            .when(hit, acc.getField("cnt"))
            .otherwise(F.lit(-1).cast("long"))
            .alias("bin"),
            F.when(found, acc.getField("inbin"))
            .when(hit, acc.getField("rem"))
            .otherwise(F.lit(0).cast("long"))
            .alias("inbin"),
            F.when(found, acc.getField("cnt"))
            .otherwise(acc.getField("cnt") + 1)
            .alias("cnt"),
        )

    walked = F.aggregate(s, init, step)
    bin_i = walked.getField("bin")       # 0-based index into state
    in_bin_rank = walked.getField("inbin")
    bin_cnt = F.element_at(s, (bin_i + 1).cast("int"))
    frac = in_bin_rank.cast("double") / bin_cnt.cast("double")
    interior = F.lit(lo) + (bin_i.cast("double") - 1 + frac) * width
    return (
        F.when(total == 0, F.lit(None).cast("double"))
        .when(bin_i == 0, F.lit(lo))            # underflow bin clamps
        .when(bin_i == n_arr - 1, F.lit(hi))    # overflow bin clamps
        .otherwise(interior)
    )


def topk_group_sketches(
    df: DataFrame, key_cols: list[str], item_col: str, k: int = 16
) -> DataFrame:
    """Mergeable frequent-items summary per key group (the sketch next
    to the histogram quantiles): the k
    highest-count items with lower-bound counts, plus a single
    undercount bound ``err``.

    State: ``state: array<struct<lo:long, item:string>>`` (sorted by
    count desc) and ``err: long``.  The invariant, preserved by
    :func:`topk_rollup` (the mergeable-summaries truncation argument —
    Agarwal et al., "Mergeable Summaries", PODS 2012):

        for every item:  lo <= true_count <= lo + err
        (items absent from the state have lo = 0)

    At construction err is the (k+1)-th count (the max true count an
    absent item can hide); kept counts are exact.  Any item with
    true_count > err is guaranteed present, so heavy hitters are never
    silently lost — the re-aggregatable top-k rollup a 100 TB
    warehouse needs (per-partition/per-day states roll up by summing,
    never rescanning raw data).  Cost: one (keys, item) shuffle with
    map-side partial counts, then a |keys x k|-sized window.
    """
    item = F.col(item_col)
    keys = list(key_cols)
    src = df if keys else df.withColumn("_g", F.lit(1))
    gk = keys or ["_g"]
    counts = (
        src.filter(item.isNotNull())
        .groupBy(*gk, item.alias("item"))
        .agg(F.count(F.lit(1)).alias("lo"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*gk).orderBy(F.col("lo").desc(), F.col("item"))
    ranked = counts.withColumn("_r", F.row_number().over(w))
    kept = ranked.filter(F.col("_r") <= k).groupBy(*gk).agg(
        F.reverse(F.sort_array(F.collect_list(F.struct("lo", "item")))).alias("state")
    )
    dropped = ranked.filter(F.col("_r") == k + 1).select(
        *gk, F.col("lo").alias("_err")
    )
    out = (
        kept.join(F.broadcast(dropped), gk, "left")
        .withColumn("err", F.coalesce(F.col("_err"), F.lit(0).cast("long")))
        .drop("_err")
    )
    return out if keys else out.drop("_g")


def topk_rollup(
    sketches: DataFrame, key_cols: list[str] | None = None, k: int = 16
) -> DataFrame:
    """Merge top-k summaries up a level WITHOUT rescanning raw data:
    sum per-item lower bounds across children, keep the k largest,
    and grow ``err`` by (sum of child errs) + (the (k+1)-th merged
    count dropped at truncation).  The lo <= true <= lo + err
    invariant is preserved: an absent item was either absent from all
    children (true <= sum of child errs) or dropped here
    (true <= its lo + child errs <= dropped bound + child errs)."""
    keys = list(key_cols or [])
    # uniform handling: a constant group key stands in for "global"
    src = sketches if keys else sketches.withColumn("_g", F.lit(1))
    gk = keys or ["_g"]
    base_err = src.groupBy(*gk).agg(F.sum("err").alias("_err0"))
    merged = (
        src.select(*gk, F.explode("state").alias("e"))
        .groupBy(*gk, F.col("e.item").alias("item"))
        .agg(F.sum("e.lo").alias("lo"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*gk).orderBy(F.col("lo").desc(), F.col("item"))
    ranked = merged.withColumn("_r", F.row_number().over(w))
    kept = ranked.filter(F.col("_r") <= k).groupBy(*gk).agg(
        F.reverse(F.sort_array(F.collect_list(F.struct("lo", "item")))).alias("state")
    )
    dropped = ranked.filter(F.col("_r") == k + 1).select(
        *gk, F.col("lo").alias("_errd")
    )
    out = (
        kept.join(F.broadcast(dropped), gk, "left")
        .join(F.broadcast(base_err), gk, "left")
        .withColumn(
            "err",
            F.coalesce(F.col("_errd"), F.lit(0).cast("long"))
            + F.coalesce(F.col("_err0"), F.lit(0).cast("long")),
        )
        .drop("_errd", "_err0")
    )
    return out if keys else out.drop("_g")
