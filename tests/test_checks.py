"""Distributed checks: uniqueness, referential, stats, drift."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cerberus_spark.checks.drift import (
    EPS,
    categorical_histogram,
    drift_report,
    numeric_histogram,
)
from cerberus_spark.checks.referential import referential_orphans, referential_violations
from cerberus_spark.checks.stats import column_profile, numeric_quantiles
from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.sources.catalog import tool_catalog
from cerberus_spark.sources.transcripts import MOD_DUP, generate_transcripts, py_rows

N = 600


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, N).cache()


def test_uniqueness_exact(spark, transcripts):
    viol = uniqueness_violations(transcripts, ["conv_id", "turn_idx"]).collect()
    expected_convs = {f"conv-{c:08d}" for c in range(N) if c % MOD_DUP == 3}
    assert {r.conv_id for r in viol} == expected_convs
    assert all(r.turn_idx == 1 and r.n_dup == 2 for r in viol)


def test_referential_ghost_tools(spark, transcripts):
    cat = tool_catalog(spark)
    orphans = referential_orphans(transcripts, "tool", cat, "tool")
    got = {r.tool for r in orphans.select("tool").distinct().collect()}
    assert got == {"ghost_tool"}
    rows = py_rows(N)
    expected = sum(1 for r in rows if r["tool"] == "ghost_tool")
    assert orphans.count() == expected


def test_referential_violation_shape(spark, transcripts):
    cat = tool_catalog(spark)
    v = referential_violations(transcripts, "tool", cat, "tool", ["conv_id", "turn_idx"])
    row = v.first()
    assert row.field == "tool" and row.rule == "referential" and row.value == "ghost_tool"


def test_column_profile(spark, transcripts):
    prof = {r.column_name: r for r in column_profile(transcripts, ["role", "text", "tool"]).collect()}
    rows = py_rows(N)
    assert prof["role"].n_rows == len(rows)
    assert prof["role"].n_null == 0
    assert prof["text"].n_null == sum(1 for r in rows if r["text"] is None)
    assert prof["tool"].n_distinct == len({r["tool"] for r in rows if r["tool"] is not None})
    assert prof["role"].min_value == "assistant"  # lexicographic


def test_quantiles_match_python(spark):
    import statistics

    vals = [float(x * x % 97) for x in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r.p: r.value for r in numeric_quantiles(df, "x", [0.5]).collect()}
    # Spark exact percentile == linear interpolation (same as statistics.quantiles n=2)
    exp = statistics.quantiles(vals, n=2, method="inclusive")[0]
    assert abs(got[0.5] - exp) < 1e-9


def _py_drift(base: dict, cur: dict):
    bins = set(base) | set(cur)
    bt = sum(base.values())
    ct = sum(cur.values())
    kl = psi = 0.0
    for b in bins:
        p = cur.get(b, 0) / ct + EPS
        q = base.get(b, 0) / bt + EPS
        kl += p * math.log(p / q)
        psi += (p - q) * math.log(p / q)
    return kl, psi


def _py_chi2(base: dict, cur: dict):
    """(chi2, g_stat, unseen_count, dof) of ``cur`` against ``base``
    proportions, over the baseline's bins."""
    nb, nc = sum(base.values()), sum(cur.values())
    exp = {k: nc * n / nb for k, n in base.items()}
    chi2 = sum((cur.get(k, 0) - e) ** 2 / e for k, e in exp.items())
    g = 2 * sum(cur[k] * math.log(cur[k] / e) for k, e in exp.items() if cur.get(k, 0) > 0)
    unseen = sum(n for k, n in cur.items() if k not in base)
    return chi2, g, unseen, len(base) - 1


def _hist(df, column: str) -> dict:
    return {r.bin: r["count"] for r in categorical_histogram(df, column).collect()}


def test_drift_identical_is_zero(spark):
    df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "x string")
    h = categorical_histogram(df, "x")
    rep = drift_report(h, h, "x").collect()[0]
    assert abs(rep.kl) < 1e-6 and abs(rep.psi) < 1e-6


def test_drift_matches_python(spark):
    base_counts = {"a": 70, "b": 20, "c": 10}
    cur_counts = {"a": 30, "b": 30, "c": 30, "d": 10}
    mk = lambda counts: spark.createDataFrame(
        [(k,) for k, n in counts.items() for _ in range(n)], "x string"
    )
    rep = drift_report(
        categorical_histogram(mk(base_counts), "x"),
        categorical_histogram(mk(cur_counts), "x"),
        "x",
    ).collect()[0]
    kl, psi = _py_drift(base_counts, cur_counts)
    assert abs(rep.kl - kl) < 1e-9
    assert abs(rep.psi - psi) < 1e-9
    assert rep.psi > 0.1  # this shift must register as drift


def test_numeric_histogram_clamps(spark):
    df = spark.createDataFrame([(-5.0,), (0.5,), (1.5,), (99.0,)], "x double")
    h = {r.bin: r["count"] for r in numeric_histogram(df, "x", [0.0, 1.0, 2.0, 10.0]).collect()}
    # edges [0,1,2,10]: interior edges 1.0, 2.0 -> bins 0,1,2; -5 clamps to bin_0, 99 to bin_2
    assert h == {"bin_0": 2, "bin_1": 1, "bin_2": 1}


def test_nulls_binned_separately(spark):
    df = spark.createDataFrame([("a",), (None,), (None,)], "x string")
    h = {r.bin: r["count"] for r in categorical_histogram(df, "x").collect()}
    assert h == {"a": 1, "__null__": 2}


def test_histogram_sketch_rollup_matches_direct(spark):
    """Union of per-group histogram states must be BIT-identical to a
    direct global sketch (vector addition is associative/commutative),
    mirroring the HLL proof; quantile estimates must land within one
    bin width of the exact percentile."""
    from cerberus_spark.checks.sketches import (
        histogram_group_sketches,
        histogram_quantile,
        histogram_rollup,
    )

    # skewed data: v = (i*i) % 997, range [0, 997)
    df = spark.range(0, 30000).select(
        (F.col("id") % 30).alias("day"),
        ((F.col("id") * F.col("id")) % 997).cast("double").alias("v"),
    )
    per_day = histogram_group_sketches(df, ["day"], "v", 0.0, 1000.0, n_bins=200)
    assert per_day.count() == 30
    merged = histogram_rollup(per_day).collect()[0].state
    direct = (
        histogram_group_sketches(
            df.withColumn("g", F.lit(1)), ["g"], "v", 0.0, 1000.0, n_bins=200
        )
        .collect()[0]
        .state
    )
    assert merged == direct
    assert sum(merged) == 30000
    # two-level merge (partials of partials) is also identical
    half1 = histogram_rollup(per_day.filter(F.col("day") < 15))
    half2 = histogram_rollup(per_day.filter(F.col("day") >= 15))
    two_level = histogram_rollup(half1.unionByName(half2)).collect()[0].state
    assert two_level == direct
    # quantile accuracy: within one bin width (5.0) of exact
    import numpy as np

    exact = np.percentile([(i * i) % 997 for i in range(30000)], [50, 90, 99])
    got = (
        histogram_rollup(per_day)
        .select(
            *[
                histogram_quantile(F.col("state"), q, 0.0, 1000.0).alias(f"q{int(q*100)}")
                for q in (0.5, 0.9, 0.99)
            ]
        )
        .collect()[0]
    )
    for g, e in zip((got.q50, got.q90, got.q99), exact):
        assert abs(g - e) <= 5.0, (g, e)


def test_histogram_sketch_under_overflow_clamp(spark):
    from cerberus_spark.checks.sketches import (
        histogram_group_sketches,
        histogram_quantile,
    )

    df = spark.createDataFrame(
        [(-5.0,), (200.0,), (50.0,), (None,)], "v double"
    ).withColumn("g", F.lit(1))
    sk = histogram_group_sketches(df, ["g"], "v", 0.0, 100.0, n_bins=10)
    state = sk.collect()[0].state
    assert len(state) == 12 and state[0] == 1 and state[-1] == 1 and sum(state) == 3
    row = sk.select(
        histogram_quantile("state", 0.01, 0.0, 100.0).alias("a"),
        histogram_quantile("state", 0.99, 0.0, 100.0).alias("b"),
    ).collect()[0]
    assert row.a == 0.0 and row.b == 100.0


def _topk_fixture(spark):
    """Deterministic skewed items spread over 3 days: item f{i} occurs
    (18 - i) times total, round-robined across days."""
    rows = []
    for i in range(12):
        for j in range(18 - i):
            rows.append((f"d{j % 3}", f"f{i}"))
    return (
        spark.createDataFrame(rows, "day string, item string"),
        {f"f{i}": 18 - i for i in range(12)},
    )


def test_topk_sketch_exact_when_k_covers_domain(spark):
    """k >= distinct items: group construction is exact (err stays 0),
    per key group and globally."""
    from cerberus_spark.checks.sketches import topk_group_sketches

    df, true = _topk_fixture(spark)
    days = topk_group_sketches(df, ["day"], "item", k=32)
    assert all(r.err == 0 for r in days.collect())
    row = topk_group_sketches(df, [], "item", k=32).collect()[0]
    assert row.err == 0
    assert {e.item: e.lo for e in row.state} == true


def test_uniqueness_groups_null_keys_and_separator_strings(spark):
    """NULL keys group together, and a key holding a separator-like
    character stays distinct from its neighbour."""
    from cerberus_spark.checks.uniqueness import uniqueness_violations

    rows = [
        ("a", 1), ("a", 1), ("a", 1),      # triple dup
        ("a", 2), ("b", 1),                # unique
        (None, 3), (None, 3),              # NULL key dup
        ("x\x1fy", 9), ("x", 9),           # separator-like char -> NOT a dup
    ]
    df = spark.createDataFrame(rows, "k string, i int")
    got = {(r.k, r.i): r.n_dup for r in uniqueness_violations(df, ["k", "i"]).collect()}
    assert got == {("a", 1): 3, (None, 3): 2}


# ---------------------------------------------------------------------------
# windowed drift (streaming drift-monitor shape)
# ---------------------------------------------------------------------------


def test_windowed_drift_matches_per_slice(spark, transcripts):
    """Per-window KL/PSI from windowed_drift_report must equal the
    Python KL/PSI of each window's slice counts against the baseline
    counts."""
    from cerberus_spark.checks.drift import (
        windowed_categorical_histograms,
        windowed_drift_report,
    )

    base = categorical_histogram(transcripts, "role")
    wins = windowed_categorical_histograms(transcripts, "role", "ts", "1 hour")
    got = {
        r.window_start: (r.kl, r.psi)
        for r in windowed_drift_report(wins, base, "role").collect()
    }
    assert len(got) >= 5  # fixture spans ~10 hours
    base_counts = _hist(transcripts, "role")
    for ws, (kl, psi) in got.items():
        sl = transcripts.filter(
            (F.col("ts") >= F.lit(ws)) & (F.col("ts") < F.lit(ws) + F.expr("INTERVAL 1 HOUR"))
        )
        exp_kl, exp_psi = _py_drift(base_counts, _hist(sl, "role"))
        assert abs(kl - exp_kl) < 1e-9 and abs(psi - exp_psi) < 1e-9


def test_windowed_histograms_streaming_twin(spark, transcripts, tmp_path):
    """The SAME windowed_categorical_histograms expression replayed
    under readStream (availableNow, complete mode) must reproduce the
    batch histograms exactly, and the drift feeding on them must too."""
    from cerberus_spark.checks.drift import (
        windowed_categorical_histograms,
        windowed_drift_report,
    )
    from cerberus_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from conftest import run_stream_to_memory

    src = str(tmp_path / "wdrift_src")
    transcripts.write.parquet(src)
    stream_hists = run_stream_to_memory(
        spark,
        src,
        TRANSCRIPT_SCHEMA,
        lambda s: windowed_categorical_histograms(s, "role", "ts", "1 hour"),
        query_name="whist",
        output_mode="complete",
    )
    batch_hists = windowed_categorical_histograms(
        spark.read.parquet(src), "role", "ts", "1 hour"
    )
    key = lambda df: {
        (r.w.start, r.bin): r["count"] for r in df.collect()
    }
    assert key(stream_hists) == key(batch_hists)

    base = categorical_histogram(spark.read.parquet(src), "role")
    sd = {
        r.window_start: (r.kl, r.psi)
        for r in windowed_drift_report(stream_hists, base, "role").collect()
    }
    bd = {
        r.window_start: (r.kl, r.psi)
        for r in windowed_drift_report(batch_hists, base, "role").collect()
    }
    assert sd.keys() == bd.keys()
    for ws in bd:  # float-sum order may differ by an ULP between plans
        assert abs(sd[ws][0] - bd[ws][0]) < 1e-12
        assert abs(sd[ws][1] - bd[ws][1]) < 1e-12


def test_windowed_histograms_watermark_bounds_state(spark, transcripts, tmp_path):
    """Append mode + watermark: only windows sealed by the final
    watermark are emitted (bounded state — the 100 TB stream shape);
    emitted counts are exact vs batch."""
    from cerberus_spark.checks.drift import windowed_categorical_histograms
    from cerberus_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from conftest import run_stream_to_memory

    src = str(tmp_path / "wmark_src")
    transcripts.write.parquet(src)
    out = run_stream_to_memory(
        spark,
        src,
        TRANSCRIPT_SCHEMA,
        lambda s: windowed_categorical_histograms(
            s.withWatermark("ts", "0 seconds"), "role", "ts", "1 hour"
        ),
        query_name="wmark",
        output_mode="append",
    )
    batch = windowed_categorical_histograms(
        spark.read.parquet(src), "role", "ts", "1 hour"
    )
    max_ts = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
    sealed = {
        (r.w.start, r.bin): r["count"]
        for r in batch.collect()
        if r.w.end <= max_ts
    }
    got = {(r.w.start, r.bin): r["count"] for r in out.collect()}
    assert got == sealed and len(sealed) > 0


def test_embedding_drift_matches_python(spark):
    """Centroid cosine/L2 vs a NumPy twin; identical halves -> cosine 1, L2 0."""
    import numpy as np

    from cerberus_spark.checks.drift import embedding_drift

    rng = [[float((i * 7 + j * 3) % 11) - 5.0 for j in range(4)] for i in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id int, embedding array<double>"
    )
    base = df.filter(F.col("vec_id") % 2 == 0)
    cur = df.filter(F.col("vec_id") % 2 == 1)
    row = embedding_drift(base, cur).collect()[0]
    b = np.mean([v for i, v in enumerate(rng) if i % 2 == 0], axis=0)
    c = np.mean([v for i, v in enumerate(rng) if i % 2 == 1], axis=0)
    exp_cos = float(np.dot(c, b) / (np.linalg.norm(c) * np.linalg.norm(b)))
    exp_l2 = float(np.linalg.norm(c - b))
    assert row.n_base == 10 and row.n_cur == 10
    assert abs(row.centroid_cosine - exp_cos) < 1e-9
    assert abs(row.centroid_l2 - exp_l2) < 1e-9

    same = embedding_drift(base, base).collect()[0]
    assert abs(same.centroid_cosine - 1.0) < 1e-12 and same.centroid_l2 < 1e-12


def test_outliers_zscore_matches_python(spark):
    import statistics

    from cerberus_spark.checks.stats import outliers_zscore

    vals = [float(v) for v in [10, 11, 9, 10, 10, 12, 8, 10, 100]]  # 100 is the outlier
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id int, v double")
    mu = statistics.fmean(vals)
    sig = statistics.pstdev(vals)
    got = {r.id: r.zscore for r in outliers_zscore(df, "v", None, threshold=2.0).collect()}
    exp = {
        i: round((v - mu) / sig, 6)
        for i, v in enumerate(vals)
        if abs(round((v - mu) / sig, 6)) > 2.0
    }
    assert got == exp and 8 in got


def test_outliers_zscore_constant_group_flags_nothing(spark):
    from cerberus_spark.checks.stats import outliers_zscore

    df = spark.createDataFrame(
        [("a", 5.0)] * 10 + [("b", 1.0), ("b", 2.0), ("b", 30.0)],
        "g string, v double",
    )
    out = outliers_zscore(df, "v", ["g"], threshold=1.3).collect()
    assert all(r.g == "b" for r in out)  # zero-variance group 'a' silent


def test_outliers_zscore_plan_has_no_window(spark):
    """Moments come from a broadcast |groups|-sized aggregate — the
    table itself is never windowed or shuffled to be scored."""
    from cerberus_spark.checks.stats import outliers_zscore

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    plan = (
        outliers_zscore(df, "v", ["g"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fd_violations(spark):
    from cerberus_spark.checks.stats import functional_dependency_violations

    rows = [
        ("us", "USD"), ("us", "USD"),          # holds
        ("ca", "CAD"), ("ca", "USD"),          # violated (2 values)
        ("eu", "EUR"), ("eu", "CHF"), ("eu", "DKK"), ("eu", "SEK"),  # violated (4)
    ]
    df = spark.createDataFrame(rows, "country string, currency string")
    out = {
        r.country: (r.n_dependent, list(r.examples))
        for r in functional_dependency_violations(
            df, ["country"], "currency", max_examples=2
        ).collect()
    }
    assert out == {
        "ca": (2, ["CAD", "USD"]),
        "eu": (4, ["CHF", "DKK"]),  # sorted, capped at 2 examples
    }


def test_schema_diff_and_assert(spark):
    import pytest as _pytest

    from cerberus_spark.checks.schema_diff import assert_schema, schema_diff
    from cerberus_spark.rules import SchemaError

    expected = "conv_id string, turn_idx int, role string, ts timestamp"
    ok = spark.createDataFrame([], expected)
    assert schema_diff(ok, expected) == []
    assert_schema(ok, expected)  # no raise

    # widened turn_idx (int->bigint) tolerated
    widened = spark.createDataFrame([], "conv_id string, turn_idx bigint, role string, ts timestamp")
    assert schema_diff(widened, expected) == []

    # missing + added + real mismatch, deterministic order
    drifted = spark.createDataFrame([], "conv_id string, turn_idx string, extra double, ts timestamp")
    got = [(f["column"], f["kind"]) for f in schema_diff(drifted, expected)]
    assert got == [
        ("turn_idx", "type_mismatch"),
        ("role", "missing"),
        ("extra", "added"),
    ]
    tolerant = [
        (f["column"], f["kind"])
        for f in schema_diff(drifted, expected, allow_added=True)
    ]
    assert tolerant == got[:2]  # 'added' finding suppressed

    with _pytest.raises(SchemaError, match="role: missing"):
        assert_schema(drifted, expected)


def test_table_diff_all_four_classes(spark):
    from cerberus_spark.checks.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "CHANGED", 3.0), (5, "e", 5.0)],
        "k int, s string, v double",
    )
    got = {r.k: r.change for r in table_diff(old, new, ["k"]).collect()}
    # NULL == NULL is 'unchanged' (sentinel-coalesced fingerprint)
    assert got == {1: "unchanged", 2: "unchanged", 3: "changed", 4: "removed", 5: "added"}


def test_table_diff_column_order_insensitive(spark):
    from cerberus_spark.checks.diff import table_diff

    old = spark.createDataFrame([(1, "x", "y")], "k int, a string, b string")
    new = spark.createDataFrame([("y", 1, "x")], "b string, k int, a string")
    assert table_diff(old, new, ["k"]).collect()[0].change == "unchanged"


def test_table_diff_join_carries_fingerprints_not_payload(spark):
    """Each side reduces to (key, md5) BELOW the join: the join's
    output schema carries only keys + fingerprints."""
    from cerberus_spark.checks.diff import table_diff

    wide = spark.createDataFrame(
        [(1, "p" * 10, "q" * 10, 1.5)], "k int, c1 string, c2 string, c3 double"
    )
    plan = (
        table_diff(wide, wide, ["k"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "md5" in plan
    # payload columns appear only under the scans, never above the join
    top = plan.split("Join")[0]
    assert "c1" not in top and "c2" not in top


# ---------------------------------------------------------------------------
# MAD outliers + chi-square drift
# ---------------------------------------------------------------------------


def test_outliers_mad_matches_numpy(spark):
    import numpy as np

    vals = [10.0, 11.0, 12.0, 10.5, 11.5, 9.5, 10.2, 11.8, 500.0, -300.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v double")
    from cerberus_spark.checks.stats import outliers_mad

    got = {r.id: r.mad_z for r in outliers_mad(df, "v", threshold=3.5).collect()}
    a = np.array(vals)
    med = np.median(a)
    mad = np.median(np.abs(a - med))
    z = np.round(0.6745 * (a - med) / mad, 6)
    want = {i: z[i] for i in range(len(vals)) if abs(z[i]) > 3.5}
    assert got == pytest.approx(want)
    assert set(got) == {8, 9}


def test_outliers_mad_robust_where_zscore_masks(spark):
    # one huge value among 8: stddev inflates so z < 4 (masked), while
    # the MAD rule still flags it
    vals = [10.0, 10.1, 9.9, 10.2, 9.8, 10.05, 9.95, 1000.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v double")
    from cerberus_spark.checks.stats import outliers_mad, outliers_zscore

    assert outliers_zscore(df, "v", threshold=4.0).count() == 0
    flagged = outliers_mad(df, "v", threshold=3.5).collect()
    assert [r.id for r in flagged] == [7]


def test_outliers_mad_zero_mad_group_silent(spark):
    df = spark.createDataFrame(
        [("a", 5.0)] * 6 + [("a", 99.0)], "g string, v double"
    )
    from cerberus_spark.checks.stats import outliers_mad

    # median=5, MAD=0 (majority identical) -> silent by contract
    assert outliers_mad(df, "v", ["g"]).count() == 0


def test_chi_square_drift_matches_python(spark):
    from cerberus_spark.checks.drift import categorical_histogram, chi_square_drift

    base = {"a": 50, "b": 30, "c": 20}
    cur = {"a": 40, "b": 45, "c": 15}
    mk = lambda cnt: spark.createDataFrame(
        [(k,) for k, n in cnt.items() for _ in range(n)], "x string"
    )
    row = chi_square_drift(
        categorical_histogram(mk(base), "x"), categorical_histogram(mk(cur), "x"), "x"
    ).collect()[0]
    chi2, g, _, _ = _py_chi2(base, cur)
    assert row.chi2 == pytest.approx(round(chi2, 6))
    assert row.g_stat == pytest.approx(round(g, 6))
    assert row.dof == 2 and row.unseen_count == 0


def test_chi_square_drift_unseen_category(spark):
    from cerberus_spark.checks.drift import categorical_histogram, chi_square_drift

    mk = lambda cnt: spark.createDataFrame(
        [(k,) for k, n in cnt.items() for _ in range(n)], "x string"
    )
    row = chi_square_drift(
        categorical_histogram(mk({"a": 10}), "x"),
        categorical_histogram(mk({"a": 8, "NEW": 2}), "x"),
    ).collect()[0]
    assert row.unseen_count == 2
    assert row.dof == 0
    # a stored baseline may list a bin with count 0: unseen, not a division by zero
    hist = lambda cnt: spark.createDataFrame(list(cnt.items()), "bin string, count long")
    row = chi_square_drift(hist({"a": 10, "NEW": 0}), hist({"a": 8, "NEW": 2})).collect()[0]
    assert row.chi2 == pytest.approx(0.4)  # (8 - 10)² / 10
    assert (row.unseen_count, row.dof) == (2, 0)


def test_chi_square_identical_is_zero(spark):
    from cerberus_spark.checks.drift import categorical_histogram, chi_square_drift

    df = spark.createDataFrame([("a",), ("b",), ("a",)], "x string")
    h = categorical_histogram(df, "x")
    row = chi_square_drift(h, h).collect()[0]
    assert row.chi2 == 0.0 and row.g_stat == 0.0


def test_ks_drift_matches_python(spark):
    from cerberus_spark.checks.drift import ks_drift, numeric_histogram

    edges = [0.0, 1.0, 2.0, 3.0, 4.0]
    base = spark.createDataFrame([(v,) for v in [0.5, 1.5, 1.5, 2.5, 3.5, 3.5]], "value double")
    cur = spark.createDataFrame([(v,) for v in [0.5, 0.5, 0.5, 1.5, 2.5, 3.5]], "value double")
    row = ks_drift(
        numeric_histogram(base, "value", edges), numeric_histogram(cur, "value", edges)
    ).collect()[0]
    # CDFs at bin ends: base [1/6, 3/6, 4/6, 1], cur [3/6, 4/6, 5/6, 1]
    assert row.ks == pytest.approx(round(2 / 6, 6))


def test_ks_drift_identical_zero_and_disjoint_one(spark):
    from cerberus_spark.checks.drift import ks_drift, numeric_histogram

    edges = [0.0, 1.0, 2.0]
    a = spark.createDataFrame([(0.5,), (0.6,)], "value double")
    b = spark.createDataFrame([(1.5,), (1.7,)], "value double")
    ha = numeric_histogram(a, "value", edges)
    hb = numeric_histogram(b, "value", edges)
    assert ks_drift(ha, ha).collect()[0].ks == 0.0
    assert ks_drift(ha, hb).collect()[0].ks == 1.0


def test_wasserstein_drift_hand_checked_and_zero(spark):
    from cerberus_spark.checks.drift import numeric_histogram, wasserstein_drift

    edges = [0.0, 1.0, 2.0, 3.0, 4.0]
    base = spark.createDataFrame([(v,) for v in [0.5, 1.5, 1.5, 2.5, 3.5, 3.5]], "value double")
    cur = spark.createDataFrame([(v,) for v in [0.5, 0.5, 0.5, 1.5, 2.5, 3.5]], "value double")
    hb = numeric_histogram(base, "value", edges)
    hc = numeric_histogram(cur, "value", edges)
    # |CDF gaps| at bin ends: |1/6-3/6| + |3/6-4/6| + |4/6-5/6| + 0 = 4/6
    assert wasserstein_drift(hb, hc).collect()[0].w1 == pytest.approx(round(4 / 6, 6))
    # bin_width scales linearly; identical histograms are exactly 0
    assert wasserstein_drift(hb, hc, bin_width=2.0).collect()[0].w1 == pytest.approx(
        round(8 / 6, 6)
    )
    assert wasserstein_drift(hb, hb).collect()[0].w1 == 0.0
    # one-bin shift of ALL mass: W1 = 1 bin, where KS would also be 1 —
    # but a HALF-mass shift separates them (KS 0.5, W1 0.5 here; the
    # sum-vs-max distinction shows on multi-bin moves)
    a = spark.createDataFrame([(0.5,), (0.5,)], "value double")
    b = spark.createDataFrame([(2.5,), (2.5,)], "value double")
    ha = numeric_histogram(a, "value", edges)
    hb2 = numeric_histogram(b, "value", edges)
    assert wasserstein_drift(ha, hb2).collect()[0].w1 == 2.0  # moved 2 bins


def test_windowed_chi2_matches_per_slice(spark, transcripts):
    """Per-window chi2/G from windowed_chi2_report must equal the
    Python chi2/G of each window's slice counts against the baseline
    counts — the missing-bin-mass shortcut is a reshape, not new
    math."""
    from cerberus_spark.checks.drift import (
        windowed_categorical_histograms,
        windowed_chi2_report,
    )

    base = categorical_histogram(transcripts, "role")
    wins = windowed_categorical_histograms(transcripts, "role", "ts", "1 hour")
    got = {
        r.window_start: r
        for r in windowed_chi2_report(wins, base, "role").collect()
    }
    assert len(got) >= 5
    base_counts = _hist(transcripts, "role")
    for ws, row in got.items():
        sl = transcripts.filter(
            (F.col("ts") >= F.lit(ws)) & (F.col("ts") < F.lit(ws) + F.expr("INTERVAL 1 HOUR"))
        )
        chi2, g, unseen, dof = _py_chi2(base_counts, _hist(sl, "role"))
        assert row.chi2 == pytest.approx(round(chi2, 6)), (ws, row)
        assert row.g_stat == pytest.approx(round(g, 6))
        assert (row.unseen_count, row.dof) == (unseen, dof)


def test_volume_anomalies_matches_python(spark):
    import datetime as dt

    from cerberus_spark.checks.stats import volume_anomalies

    # hourly volumes: steady 10s, one spike, one crash
    vols = [10, 10, 10, 12, 300, 10, 10, 1]
    rows = [
        (dt.datetime(2024, 1, 1, h, m % 60),)
        for h, n in enumerate(vols)
        for m in range(n)
    ]
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {
        r.window_start.hour: r
        for r in volume_anomalies(df, "ts", "1 hour", trailing=3).collect()
    }
    # windows 0-2 lack full trailing context
    assert set(got) == {3, 4, 5, 6, 7}
    assert not got[3].anomaly                       # 12 vs mean(10,10,10)
    assert got[4].anomaly and got[4].ratio > 2      # spike
    # the spike contaminates the next 3 trailing means (documented
    # trailing-mean behavior): 10 vs mean(10,12,300) is "low" too
    assert got[5].anomaly and got[5].ratio < 0.5
    assert got[7].anomaly and got[7].ratio < 0.5    # crash
    # exact python twin for one window: w3 mean = (10+10+10)/3
    assert got[3].trailing_mean == 10.0 and got[3].ratio == 1.2


def test_null_rate_drift_hand_checked(spark):
    from cerberus_spark.checks.drift import null_rate_drift

    base = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], "id long, x string"
    )
    cur = spark.createDataFrame(
        [(5, None), (6, None), (7, "g"), (8, None)], "id long, x string"
    )
    rows = {r.column_name: r for r in null_rate_drift(base, cur, ["x", "id"]).collect()}
    assert rows["x"].base_null_rate == 0.25
    assert rows["x"].cur_null_rate == 0.75
    assert rows["x"].delta == 0.5
    assert rows["id"].delta == 0.0


def test_null_rate_drift_column_named_n(spark):
    """A probed column literally named 'n' used to collide with the
    internal row-count alias ('b_n') and raise an ambiguous-column
    AnalysisException; the alias scheme must be collision-proof."""
    from cerberus_spark.checks.drift import null_rate_drift

    base = spark.createDataFrame([(1, 1), (2, None)], "id long, n long")
    cur = spark.createDataFrame([(3, None), (4, None)], "id long, n long")
    rows = {r.column_name: r for r in null_rate_drift(base, cur, ["n"]).collect()}
    assert rows["n"].base_null_rate == 0.5
    assert rows["n"].cur_null_rate == 1.0
    assert rows["n"].delta == 0.5
