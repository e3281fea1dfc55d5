"""Distribution drift against a FROZEN baseline snapshot: KL/PSI,
chi-square/G, binned KS and Wasserstein-1, null rates, embedding
centroids.

Determinism rules (SURVEY.md §7 "what's hard"):
- numeric bin edges are FROZEN in the baseline snapshot and reused for
  the current histogram — never re-derived per run;
- smoothing epsilon is fixed so KL/PSI are defined when a bin is empty
  on one side;
- all heavy work (histogramming) is distributed aggregation; only the
  histogram itself (``n_bins`` rows) is joined/reduced — the drift math
  runs as DataFrame expressions, NOT driver-side loops.

One implementation per statistic.  KL/PSI (:func:`_kl_psi`) and
chi-square/G (:func:`_chi2`) each have one core keyed by a list of
window columns: the windowed reports key it by the event-time window
``w``, the static reports by nothing (one global row, the one-window
case).  KS and W1 read one CDF-gap frame (:func:`_cdf_gaps`).  Every
division by a total is a ``try_divide``, so an empty side yields NULL
statistics instead of an exception.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-9


def categorical_histogram(df: DataFrame, column: str) -> DataFrame:
    """(bin, count) over category values; nulls binned as '__null__'."""
    return (
        df.select(F.coalesce(F.col(column).cast("string"), F.lit("__null__")).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def numeric_bin_expr(col, edges: list[float]):
    """FROZEN-edge bin index expression: Σ 1[x >= edge_i] over interior
    edges (clamps out-of-range into first/last bin).  NULL in -> NULL
    out.  Shared by the numeric histograms and the single-pass drift."""
    col = col.cast("double")
    steps = None
    for e in edges[1:-1]:
        ind = F.when(col >= F.lit(float(e)), 1).otherwise(0)
        steps = ind if steps is None else steps + ind
    bin_idx = steps if steps is not None else F.lit(0)
    return F.when(col.isNotNull(), bin_idx.cast("int"))


def _numeric_bin(column: str, edges: list[float]):
    """The ``bin_<i>`` label of :func:`numeric_bin_expr`."""
    return F.concat(F.lit("bin_"), numeric_bin_expr(F.col(column), edges).cast("string"))


def numeric_histogram(df: DataFrame, column: str, edges: list[float]) -> DataFrame:
    """(bin, count) with FROZEN edges: bin i covers [edges[i], edges[i+1]).

    Values outside the edge range clamp into the first/last bin so
    baseline and current always share a support.  Binning is a single
    ``width_bucket``-style expression — codegen'd, no UDF.  NULLs
    dropped.
    """
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(_numeric_bin(column, edges).alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def windowed_categorical_histograms(
    df: DataFrame,
    column: str,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
) -> DataFrame:
    """(w: struct<start,end>, bin, count) — per-event-time-window
    category histogram.  The SAME expression is legal in batch and
    streaming plans; on a stream, set ``withWatermark`` on ``df``
    first so the window state is bounded (late rows beyond it are
    dropped)."""
    return (
        df.groupBy(
            F.window(ts_col, window_duration).alias("w"),
            F.coalesce(F.col(column).cast("string"), F.lit("__null__")).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


def windowed_numeric_histograms(
    df: DataFrame,
    column: str,
    edges: list[float],
    ts_col: str = "ts",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Numeric twin of :func:`windowed_categorical_histograms`: FROZEN
    ``edges`` binning (same clamp semantics as
    :func:`numeric_histogram`) per event-time window; NULLs dropped.
    Composes with :func:`windowed_drift_report` against a
    :func:`numeric_histogram` baseline."""
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(
            F.window(ts_col, window_duration).alias("w"),
            _numeric_bin(column, edges).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _kl_psi(hists: DataFrame, baseline_hist: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, kl, psi): KL(current ‖ baseline) and PSI of each key's
    (bin, count) histogram in ``hists`` against one FROZEN baseline,

        kl  = Σ p·ln(p/q)          (p = current, q = baseline)
        psi = Σ (p−q)·ln(p/q)

    with ``EPS`` added to both probabilities.  No key is one global
    row, NULL statistics when either side is empty.

    Scale shape: NO keys x bins support expansion and NO self-join on
    the ``hists`` plan (a self-join also breaks on streaming
    memory-sink views).  A baseline bin ABSENT from a key's histogram
    contributes a term that is independent of the key (its smoothed
    current probability is exactly ``EPS``), so the missing-bin mass
    is ``Σ_all_baseline_bins f(q) − Σ_present f(q)`` — one broadcast
    constant plus a per-key subtraction.  The only per-row work is a
    left join of the per-key bins onto the broadcast histogram-sized
    baseline; raw data is touched only by the upstream histogram
    aggregation.
    """
    e = F.lit(EPS)
    b = baseline_hist.groupBy("bin").agg(F.sum("count").alias("b_count"))
    bt_row = b.agg(F.sum("b_count").alias("bt"))
    q = F.try_divide(F.col("b_count"), F.col("bt")) + e
    # per-baseline-bin q plus its "this bin is missing from the
    # current histogram" term (p = EPS): f_kl = ε·ln(ε/q), f_psi = (ε−q)·ln(ε/q)
    b_terms = b.crossJoin(F.broadcast(bt_row)).select(
        "bin",
        q.alias("q"),
        (e * F.log(e / q)).alias("kl_miss"),
        ((e - q) * F.log(e / q)).alias("psi_miss"),
    )
    miss_all = b_terms.agg(
        F.sum("kl_miss").alias("kl_miss_all"), F.sum("psi_miss").alias("psi_miss_all")
    )
    c = hists.groupBy(*keys, "bin").agg(F.sum("count").alias("c_count"))
    j = c.join(F.broadcast(b_terms), on="bin", how="left")
    p = F.try_divide(F.col("c_count"), F.sum("c_count").over(Window.partitionBy(*keys))) + e
    q2 = F.coalesce(F.col("q"), e)  # bin absent from the baseline
    terms = j.select(
        *keys,
        (p * F.log(p / q2)).alias("kl_term"),
        ((p - q2) * F.log(p / q2)).alias("psi_term"),
        F.coalesce(F.col("kl_miss"), F.lit(0.0)).alias("kl_miss"),
        F.coalesce(F.col("psi_miss"), F.lit(0.0)).alias("psi_miss"),
    )
    return (
        terms.groupBy(*keys)
        .agg(
            F.sum("kl_term").alias("kl_present"),
            F.sum("psi_term").alias("psi_present"),
            F.sum("kl_miss").alias("kl_covered"),
            F.sum("psi_miss").alias("psi_covered"),
        )
        .crossJoin(F.broadcast(miss_all))
        .select(
            *keys,
            (F.col("kl_present") + F.col("kl_miss_all") - F.col("kl_covered")).alias("kl"),
            (F.col("psi_present") + F.col("psi_miss_all") - F.col("psi_covered")).alias("psi"),
        )
    )


def windowed_drift_report(
    window_hists: DataFrame,
    baseline_hist: DataFrame,
    column_name: str = "value",
) -> DataFrame:
    """Per-window KL/PSI against one FROZEN baseline histogram:
    (window_start, window_end, column_name, kl, psi) — :func:`_kl_psi`
    keyed by the window."""
    return _kl_psi(window_hists, baseline_hist, ["w"]).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.lit(column_name).alias("column_name"),
        "kl",
        "psi",
    )


def drift_report(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    column_name: str = "value",
) -> DataFrame:
    """KL(current ‖ baseline) and PSI from two (bin, count) histograms:
    ONE row (column_name, kl, psi) — :func:`_kl_psi` with no key."""
    return _kl_psi(current_hist, baseline_hist, []).select(
        F.lit(column_name).alias("column_name"), "kl", "psi"
    )


def _chi2(hists: DataFrame, baseline_hist: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, chi2, g_stat, unseen_count, dof) of each key's histogram
    in ``hists`` against one FROZEN baseline (:func:`chi_square_drift`
    defines the statistics).  No key is one global row.

    Same no-expansion shape as :func:`_kl_psi`: a baseline bin ABSENT
    from a key's histogram contributes exactly its expected count
    (obs = 0 ⇒ (0−exp)²/exp = exp, G-term 0), so the missing-bin chi2
    mass is ``ct · (bt − Σ_present bc) / bt`` — computed from per-key
    scalars, never a keys × bins support join.  Legal over batch AND
    streaming window histograms.
    """
    b = baseline_hist.groupBy("bin").agg(F.sum("count").alias("b_count"))
    bt_row = b.agg(F.sum("b_count").alias("bt"), F.count_if(F.col("b_count") > 0).alias("n_bins_b"))
    c = hists.groupBy(*keys, "bin").agg(F.sum("count").alias("c_count"))
    j = c.join(F.broadcast(b), on="bin", how="left").crossJoin(F.broadcast(bt_row))
    ct = F.sum("c_count").over(Window.partitionBy(*keys))
    exp = F.try_divide(ct * F.col("b_count"), F.col("bt"))
    obs = F.col("c_count")
    seen = F.col("b_count") > 0  # NULL (bin absent from the baseline) is unseen too
    terms = j.select(
        *keys,
        ct.alias("ct"),
        F.when(seen, (obs - exp) * (obs - exp) / exp).otherwise(0.0).alias("chi2_term"),
        F.when(seen & (obs > 0), 2.0 * obs * F.log(obs / exp)).otherwise(0.0).alias("g_term"),
        F.when(seen, F.lit(0)).otherwise(obs).alias("unseen"),
        F.coalesce(F.col("b_count"), F.lit(0)).alias("covered_bc"),
    )
    return (
        terms.groupBy(*keys)
        .agg(
            F.max("ct").alias("ct"),
            F.sum("chi2_term").alias("chi2_present"),
            F.sum("g_term").alias("g_raw"),
            F.sum("unseen").alias("unseen_count"),
            F.sum("covered_bc").alias("bc_present"),
        )
        .crossJoin(F.broadcast(bt_row))
        .select(
            *keys,
            F.round(
                F.col("chi2_present")
                + F.try_divide(F.col("ct") * (F.col("bt") - F.col("bc_present")), F.col("bt")),
                6,
            ).alias("chi2"),
            # an empty baseline has no expected counts: NULL, like chi2
            F.round(F.when(F.col("bt") > 0, F.col("g_raw")), 6).alias("g_stat"),
            "unseen_count",
            (F.col("n_bins_b") - 1).alias("dof"),
        )
    )


def chi_square_drift(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    column_name: str = "value",
) -> DataFrame:
    """Pearson chi-square goodness-of-fit of the current histogram
    against baseline proportions, plus the G-statistic (likelihood
    ratio, 2·n·KL in nats): the classic frequentist complements of
    KL/PSI — chi2 grows with sample size, so it detects SMALL
    distribution shifts on LARGE windows that a fixed PSI threshold
    ignores.  ONE row (column_name, chi2, g_stat, unseen_count, dof):
    :func:`_chi2` with no key.

        exp_k  = n_current * baseline_k / n_baseline
        chi2   = Σ (obs_k − exp_k)² / exp_k     over baseline bins
        g_stat = 2 Σ obs_k · ln(obs_k / exp_k)  over baseline bins with obs_k > 0
        dof    = #bins(baseline) − 1

    Bins absent from the baseline (exp = 0) are EXCLUDED from chi2 and
    g_stat — their chi2 term would be unbounded/arbitrary under any
    epsilon convention — and are surfaced solely through
    ``unseen_count``, so a new category is visible even when chi2 is
    dominated by large bins (treat unseen_count > 0 as its own alarm).
    """
    return _chi2(current_hist, baseline_hist, []).select(
        F.lit(column_name).alias("column_name"), "chi2", "g_stat", "unseen_count", "dof"
    )


def windowed_chi2_report(
    window_hists: DataFrame,
    baseline_hist: DataFrame,
    column_name: str = "value",
) -> DataFrame:
    """Per-window Pearson chi-square + G-statistic against one FROZEN
    baseline: (window_start, window_end, column_name, chi2, g_stat,
    unseen_count, dof) — :func:`_chi2` keyed by the window."""
    return _chi2(window_hists, baseline_hist, ["w"]).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        F.lit(column_name).alias("column_name"),
        "chi2",
        "g_stat",
        "unseen_count",
        "dof",
    )


def _cdf_gaps(baseline_hist: DataFrame, current_hist: DataFrame) -> DataFrame:
    """(gap, span) per bin present on either side of two FROZEN-edge
    numeric histograms (``bin_<i>`` labels): ``gap`` = |CDF_base −
    CDF_current| at the bin's upper boundary, ``span`` = index distance
    to the next present bin.  Histograms carry only NON-EMPTY bins; over
    a stretch of bins empty in both inputs the CDFs are constant, so a
    present bin's gap persists for ``span`` bins.

    The cumulative window runs over |bins| rows in one partition —
    deliberately, it never sees data-sized input.
    """
    b = baseline_hist.groupBy("bin").agg(F.sum("count").alias("b_count"))
    c = current_hist.groupBy("bin").agg(F.sum("count").alias("c_count"))
    j = (
        b.join(c, on="bin", how="full_outer")
        .fillna(0, subset=["b_count", "c_count"])
        .withColumn("bin_idx", F.split(F.col("bin"), "_").getItem(1).cast("int"))
    )
    totals = j.agg(F.sum("b_count").alias("bt"), F.sum("c_count").alias("ct"))
    order = Window.orderBy("bin_idx")
    cum = order.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.abs(
        F.try_divide(F.sum("b_count").over(cum), F.col("bt"))
        - F.try_divide(F.sum("c_count").over(cum), F.col("ct"))
    )
    span = F.coalesce(F.lead("bin_idx").over(order) - F.col("bin_idx"), F.lit(1))
    return j.crossJoin(F.broadcast(totals)).select(gap.alias("gap"), span.alias("span"))


def ks_drift(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    column_name: str = "value",
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov statistic from two
    FROZEN-edge numeric histograms (``numeric_histogram`` bin labels
    ``bin_<i>``): max |CDF_base − CDF_current| evaluated at the bin
    boundaries (:func:`_cdf_gaps`).  A lower bound of the exact KS
    (within-bin shape is invisible by construction) that needs only
    |bins|-sized state — the exact statistic would require a GLOBAL
    sort of both tables.
    """
    return (
        _cdf_gaps(baseline_hist, current_hist)
        .agg(F.round(F.max("gap"), 6).alias("ks"))
        .select(F.lit(column_name).alias("column_name"), "ks")
    )


def wasserstein_drift(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    column_name: str = "value",
    bin_width: float = 1.0,
) -> DataFrame:
    """Binned Wasserstein-1 (earth-mover) distance between two
    FROZEN-edge numeric histograms: ``bin_width · Σ_i |CDF_base(i) −
    CDF_current(i)|`` over the bin boundaries — for 1-D distributions
    W1 equals the integral of the |CDF gap|, so on a shared binning it
    is the span-weighted sum of :func:`_cdf_gaps` where :func:`ks_drift`
    takes the max.  The complement of the existing family:
    KS reacts to the single worst CDF gap, KL/PSI to log-ratio mass,
    chi2 to sample size — W1 measures how FAR mass moved in value units
    (``bin_width`` = the shared edge spacing; leave 1.0 for "bins
    moved").  Within-bin shape is invisible by construction, making
    this the standard |bins|-state approximation (exact W1 would need a
    global sort of both tables).
    """
    return (
        _cdf_gaps(baseline_hist, current_hist)
        .agg(
            F.round(F.sum(F.col("gap") * F.col("span")) * F.lit(float(bin_width)), 6).alias("w1")
        )
        .select(F.lit(column_name).alias("column_name"), "w1")
    )


def embedding_drift(
    baseline: DataFrame,
    current: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-distribution drift: ONE row
    (n_base, n_cur, centroid_cosine, centroid_l2) comparing the mean
    vectors of two embedding sets (the cheap, mergeable first-moment
    signal for "did the corpus move in embedding space").

    Scale shape: posexplode to (side, dim, value) is map-side; the
    only shuffle carries |dims| rows of partial (sum, count) state —
    per-dimension means partial-aggregate map-side exactly like any
    avg.  The final cosine/L2 is an aggregate over |dims| rows.
    Never collects a vector to the driver.
    """
    tagged = baseline.select(
        F.lit(False).alias("is_cur"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).unionAll(
        current.select(
            F.lit(True).alias("is_cur"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
    )
    per_dim = tagged.groupBy("pos").agg(
        F.avg(F.when(F.col("is_cur"), F.col("val"))).alias("c"),
        F.avg(F.when(~F.col("is_cur"), F.col("val"))).alias("b"),
        F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).alias("nc"),
        F.sum(F.when(~F.col("is_cur"), 1).otherwise(0)).alias("nb"),
    )
    return per_dim.agg(
        F.max("nb").alias("n_base"),
        F.max("nc").alias("n_cur"),
        (
            F.sum(F.col("c") * F.col("b"))
            / F.sqrt(F.sum(F.col("c") * F.col("c")))
            / F.sqrt(F.sum(F.col("b") * F.col("b")))
        ).alias("centroid_cosine"),
        F.sqrt(F.sum(F.pow(F.col("c") - F.col("b"), 2))).alias("centroid_l2"),
    )



def null_rate_drift(
    baseline: DataFrame,
    current: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Per-column null-rate drift between a baseline snapshot and the
    current window: (column_name, base_null_rate, cur_null_rate,
    delta) — the completeness counterpart of the value-distribution
    drift family (a field whose null rate jumps is usually an upstream
    extractor breaking, invisible to histogram drift because the
    non-null values still look normal).

    Scale shape: each side is ONE map-side-combined aggregate to a
    single row (|cols| counters wide); the join is 1×1 and the output
    is |cols| rows exploded from a literal array.  ``delta`` is
    computed from the ROUNDED rates so it is engine-exact.
    """
    # collision-proof internal aliases: '{prefix}__total' and
    # '{prefix}_null_{c}' never collide with each other for ANY probed
    # column name (a column literally named 'n' used to clash with the
    # old '{prefix}_n' row-count alias)
    def rates(df: DataFrame, prefix: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias(f"{prefix}__total")]
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{prefix}_null_{c}")
            for c in cols
        ]
        return df.agg(*aggs)

    j = rates(baseline, "b").crossJoin(rates(current, "c"))
    base_r = {c: F.round(F.col(f"b_null_{c}") / F.col("b__total"), 6) for c in cols}
    cur_r = {c: F.round(F.col(f"c_null_{c}") / F.col("c__total"), 6) for c in cols}
    entries = [
        F.struct(
            F.lit(c).alias("column_name"),
            base_r[c].alias("base_null_rate"),
            cur_r[c].alias("cur_null_rate"),
            F.round(cur_r[c] - base_r[c], 6).alias("delta"),
        )
        for c in cols
    ]
    return j.select(F.explode(F.array(*entries)).alias("e")).select("e.*")
