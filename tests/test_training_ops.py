"""Training-data pipeline operators: as-of join, hash sampling/split,
sequence packing, vocabulary stats."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cerberus_spark.functions.text import vocabulary
from cerberus_spark.operators.asof import asof_join
from cerberus_spark.operators.pack import pack_documents
from cerberus_spark.operators.sample import hash_sample, hash_split


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [
            (1, "k1", _ts("2024-01-01 10:00:00")),  # before any right -> null
            (2, "k1", _ts("2024-01-01 12:00:00")),  # exactly at right ts -> inclusive
            (3, "k1", _ts("2024-01-01 13:30:00")),  # between rights -> 12:00 row
            (4, "k1", _ts("2024-01-01 15:00:00")),  # after all -> 14:00 row
            (5, "k2", _ts("2024-01-01 12:30:00")),  # other key
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k1", _ts("2024-01-01 12:00:00"), 10.0),
            ("k1", _ts("2024-01-01 14:00:00"), 20.0),
            ("k2", _ts("2024-01-01 12:00:00"), 99.0),
        ],
        "k string, ts timestamp, v double",
    )
    out = {
        r.id: (r.ts_asof, r.v_asof)
        for r in asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()
    }
    assert out[1] == (None, None)
    assert out[2] == (_ts("2024-01-01 12:00:00"), 10.0)
    assert out[3] == (_ts("2024-01-01 12:00:00"), 10.0)
    assert out[4] == (_ts("2024-01-01 14:00:00"), 20.0)
    assert out[5] == (_ts("2024-01-01 12:00:00"), 99.0)


def test_asof_join_tiebreak_latest_wins(spark):
    left = spark.createDataFrame(
        [(1, "k", _ts("2024-01-01 12:00:00"))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("k", _ts("2024-01-01 11:00:00"), 7, 1.0),
            ("k", _ts("2024-01-01 11:00:00"), 9, 2.0),  # larger tiebreak wins
        ],
        "k string, ts timestamp, seq int, v double",
    )
    out = asof_join(left, right, ["k"], "ts", "ts", ["v"], tiebreak="seq").collect()
    assert out[0].v_asof == 2.0


def test_asof_join_null_value_in_matched_row_stays_null(spark):
    """A matched right row whose value column is NULL must yield NULL,
    not carry forward an OLDER row's value (the matched row rides in a
    non-null struct, so last(ignorenulls) picks rows, not values)."""
    left = spark.createDataFrame(
        [(1, "k", _ts("2024-01-01 12:00:00"))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [
            ("k", _ts("2024-01-01 11:00:00"), 5.0),
            ("k", _ts("2024-01-01 11:30:00"), None),  # the match — NULL value
        ],
        "k string, ts timestamp, v double",
    )
    row = asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()[0]
    assert row.ts_asof == _ts("2024-01-01 11:30:00")
    assert row.v_asof is None
    # forward direction: match at 11:30 looking backward-in-scan is the
    # earliest right >= left; with left at 11:15 the 11:30 NULL row wins
    left2 = spark.createDataFrame(
        [(1, "k", _ts("2024-01-01 11:15:00"))], "id long, k string, ts timestamp"
    )
    row2 = asof_join(
        left2, right, ["k"], "ts", "ts", ["v"], direction="forward"
    ).collect()[0]
    assert row2.ts_asof == _ts("2024-01-01 11:30:00")
    assert row2.v_asof is None


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [
            (1, "k", _ts("2024-01-01 12:00:00")),  # next right at 13:00
            (2, "k", _ts("2024-01-01 14:00:00")),  # exactly at right -> inclusive
            (3, "k", _ts("2024-01-01 15:00:00")),  # nothing after -> null
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k", _ts("2024-01-01 11:00:00"), 1.0),
            ("k", _ts("2024-01-01 13:00:00"), 2.0),
            ("k", _ts("2024-01-01 14:00:00"), 3.0),
        ],
        "k string, ts timestamp, v double",
    )
    out = {
        r.id: r.v_asof
        for r in asof_join(
            left, right, ["k"], "ts", "ts", ["v"], direction="forward"
        ).collect()
    }
    assert out == {1: 2.0, 2: 3.0, 3: None}


def test_interval_join_semantics(spark):
    """Half-open bounds, multi-chunk intervals, overlaps, left join."""
    from cerberus_spark.operators.rangejoin import interval_join

    pts = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:00")),  # == start -> included
            (2, _ts("2024-01-02 00:00:00")),  # == end of iv A -> excluded
            (3, _ts("2024-01-04 12:00:00")),  # inside the 3-day iv B
            (4, _ts("2024-02-01 00:00:00")),  # matches nothing
            (5, _ts("2024-01-03 06:00:00")),  # inside B and C (overlap)
        ],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00")),
            ("B", _ts("2024-01-03 00:00:00"), _ts("2024-01-06 00:00:00")),
            ("C", _ts("2024-01-03 00:00:00"), _ts("2024-01-03 12:00:00")),
        ],
        "iv string, start_ts timestamp, end_ts timestamp",
    )
    inner = {
        (r.pid, r.iv)
        for r in interval_join(pts, "ts", ivs, "start_ts", "end_ts").collect()
    }
    assert inner == {(1, "A"), (3, "B"), (5, "B"), (5, "C")}
    left = interval_join(pts, "ts", ivs, "start_ts", "end_ts", how="left")
    unmatched = {r.pid for r in left.collect() if r.iv is None}
    assert unmatched == {2, 4}


def test_hash_sample_deterministic_and_nested(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    s20 = {r.k for r in hash_sample(df, "k", 0.2).collect()}
    s50 = {r.k for r in hash_sample(df, "k", 0.5).collect()}
    # deterministic across runs
    assert s20 == {r.k for r in hash_sample(df, "k", 0.2).collect()}
    # approximately the requested rate
    assert 0.17 < len(s20) / 5000 < 0.23
    assert 0.46 < len(s50) / 5000 < 0.54
    # rates nest for the same salt: the 20% sample is inside the 50% one
    assert s20 <= s50


def test_leak_safe_split_cluster_cohesion(spark):
    """Every duplicate cluster must land entirely in ONE split — the
    whole point of splitting by cluster id."""
    from cerberus_spark.operators.graph import dedup_clusters
    from cerberus_spark.operators.sample import leak_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(400)], "doc_id long, text string"
    )
    # synthetic dup pairs chaining docs into 100 clusters of 4
    edges = spark.createDataFrame(
        [(i, i + 100) for i in range(100)]
        + [(i + 100, i + 200) for i in range(100)]
        + [(i + 200, i + 300) for i in range(100)],
        "id_a long, id_b long",
    )
    clusters = dedup_clusters(edges).select("id", "cluster_id")
    out = leak_safe_split(docs, "doc_id", clusters)
    rows = out.select("doc_id", "cluster_id", "split").collect()
    assert len(rows) == 400 and all(r.split in ("train", "val", "test") for r in rows)
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    # each of the 100 real clusters maps to exactly one split
    for cid, splits in by_cluster.items():
        assert len(splits) == 1, (cid, splits)


def test_stratified_hash_sample_rates(spark):
    from cerberus_spark.operators.sample import stratified_hash_sample

    df = spark.createDataFrame(
        [(i, "rare" if i % 10 == 0 else "common") for i in range(4000)],
        "k long, cls string",
    )
    kept = stratified_hash_sample(df, "k", "cls", {"rare": 1.0, "common": 0.1})
    counts = {
        r.cls: r.n
        for r in kept.groupBy("cls").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts["rare"] == 400  # rate 1.0 keeps every rare row
    assert 0.07 * 3600 < counts["common"] < 0.13 * 3600
    # classes not in the rate map default to rate 0
    df2 = df.withColumn("cls", F.lit("other"))
    assert stratified_hash_sample(df2, "k", "cls", {"rare": 1.0}).count() == 0


def test_hash_split_partitions_all_rows(spark):
    df = spark.range(0, 4000).withColumnRenamed("id", "k")
    out = hash_split(df, "k")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 4000
    assert counts["train"] > 3300  # ~90%
    # assignment is stable under a different partition layout
    again = {
        r.k: r.split for r in hash_split(df.repartition(17), "k").collect()
    }
    base = {r.k: r.split for r in out.collect()}
    assert again == base


def test_pack_documents_fill_semantics(spark):
    df = spark.createDataFrame(
        [(i, 100) for i in range(20)], "doc_id long, toks int"
    )
    packed = pack_documents(df, "doc_id", "toks", budget=250, n_buckets=1)
    rows = sorted((r.doc_id, r.pack_id) for r in packed.collect())
    assert len(rows) == 20
    # exclusive-cumsum fill: docs at cum 0,100,200 -> pack 0; 300,400 -> pack 1...
    assert [p for _, p in rows] == [i * 100 // 250 for i in range(20)]
    # per-pack token sum never exceeds budget + max_doc_tokens - 1
    sums = (
        packed.groupBy("bucket", "pack_id").agg(F.sum("toks").alias("s")).collect()
    )
    assert all(r.s <= 250 + 100 - 1 for r in sums)


def test_vocabulary_counts(spark):
    df = spark.createDataFrame(
        [
            (0, "spark spark flink"),
            (1, "spark beam"),
            (2, None),
        ],
        "doc_id long, text string",
    )
    got = {r.term: (r.df, r.cf) for r in vocabulary(df, "text", "doc_id").collect()}
    assert got == {"spark": (2, 3), "flink": (1, 1), "beam": (1, 1)}
    top = vocabulary(df, "text", "doc_id", min_df=2)
    assert [r.term for r in top.collect()] == ["spark"]


def test_pack_documents_default_buckets_scale_with_parallelism(spark):
    """Unset n_buckets derives from defaultParallelism (>=64 floor), so
    partition-sized sorts shrink as the cluster grows — the old fixed
    64 made each bucket |corpus|/64 rows in ONE task at any scale."""
    dp = spark.sparkContext.defaultParallelism
    expected = max(64, dp * 4)
    rows = [(i, 10 + (i % 7)) for i in range(20 * expected)]
    df = spark.createDataFrame(rows, "doc_id long, toks int")
    out = pack_documents(df, "doc_id", "toks", budget=100)
    buckets = [r.bucket for r in out.select("bucket").distinct().collect()]
    assert 0 <= min(buckets) and max(buckets) < expected
    # md5 spreads ~uniformly: with 20 rows/bucket expected, far more
    # than 64 distinct buckets must appear when the default is scaled
    if expected > 64:
        assert len(buckets) > 64


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_contamination_report_counts_shared_shingles(spark):
    from cerberus_spark.operators.decontam import contamination_report

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),  # shares 'alpha beta gamma'
            (2, "zeta eta theta iota"),     # clean
            (3, "alpha beta gamma"),        # fully contaminated
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "alpha beta gamma")], "doc_id long, text string")
    rows = {r.doc_id: r for r in contamination_report(docs, "text", "doc_id", ev).collect()}
    assert set(rows) == {1, 3}  # doc 2 (no overlap) is not emitted
    assert rows[1].n_shingles == 2 and rows[1].n_contaminated == 1
    assert rows[1].contam_milli == 500
    assert rows[3].n_shingles == 1 and rows[3].contam_milli == 1000


def test_contamination_plan_broadcasts_eval_side(spark):
    """The corpus must never shuffle into a join against the eval set —
    the eval shingle hashes reach it via BroadcastExchange."""
    from cerberus_spark.operators.decontam import contamination_report

    docs = spark.createDataFrame(
        [(i, f"word{i} word{i+1} word{i+2} word{i+3}") for i in range(50)],
        "doc_id long, text string",
    )
    ev = docs.limit(3)
    plan = contamination_report(docs, "text", "doc_id", ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# repetition quality filters
# ---------------------------------------------------------------------------


def test_repetition_metrics_hand_checked(spark):
    from cerberus_spark.functions.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat the cat"),  # 8 words, 5 distinct
            (2, "a b c d"),                         # all unique
            (3, "x"),                               # single word
            (4, "spam spam spam spam"),             # degenerate
        ],
        "id long, text string",
    )
    rows = {
        r.id: r
        for r in repetition_metrics(df, "text", "id")
        .select(
            "id",
            F.col("dup_word_milli").alias("dw"),
            F.col("top_word_milli").alias("tw"),
            F.col("dup_2gram_milli").alias("d2"),
        )
        .collect()
    }
    # doc 1: dup words 3/8=375; top word 'the' 3/8=375; 2-grams 7 total,
    # 6 distinct ('the cat' repeats) -> 142
    assert (rows[1].dw, rows[1].tw, rows[1].d2) == (375, 375, 142)
    assert (rows[2].dw, rows[2].tw, rows[2].d2) == (0, 250, 0)
    assert (rows[3].dw, rows[3].tw) == (0, 1000) and rows[3].d2 is None
    assert (rows[4].dw, rows[4].tw, rows[4].d2) == (750, 1000, 666)


def test_repetition_metrics_are_shuffle_free(spark):
    from cerberus_spark.functions.text import repetition_metrics

    df = spark.range(100).withColumn("text", F.concat_ws(" ", F.lit("a"), F.col("id").cast("string")))
    out = repetition_metrics(df, "text", "id", char_ks=(2, 3))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# mixture resampling
# ---------------------------------------------------------------------------


def test_resample_to_mixture_converges_and_keeps_scarcest(spark):
    from cerberus_spark.operators.sample import resample_to_mixture

    rows = [
        (i, "web" if i % 10 < 8 else ("code" if i % 10 < 9 else "books"))
        for i in range(100_000)
    ]
    df = spark.createDataFrame(rows, "id long, src string")
    out = resample_to_mixture(df, "id", "src", {"web": 0.5, "code": 0.3, "books": 0.2})
    got = {r.src: r.n for r in out.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    # code is the scarcest stratum relative to target (10% actual vs 30%
    # target) -> kept at exactly 100%
    assert got["code"] == 10_000
    tot = sum(got.values())
    for name, want in {"web": 0.5, "code": 0.3, "books": 0.2}.items():
        assert abs(got[name] / tot - want) < 0.02, got


def test_resample_to_mixture_drops_untargeted_strata(spark):
    from cerberus_spark.operators.sample import resample_to_mixture

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "junk") for i in range(1000)], "id long, s string"
    )
    out = resample_to_mixture(df, "id", "s", {"a": 1.0})
    assert out.filter(F.col("s") == "junk").count() == 0
    assert out.count() == 500  # scarcest (only) targeted stratum kept fully


# ---------------------------------------------------------------------------
# trim_to_budget
# ---------------------------------------------------------------------------

TRIM_ROWS = [
    # (conv, turn, tokens)
    ("c1", 0, 100), ("c1", 1, 200), ("c1", 2, 150), ("c1", 3, 50),
    ("c2", 0, 900),                      # single over-budget turn
    ("c3", 0, 10), ("c3", 1, 10),
]


def _trim_df(spark):
    return spark.createDataFrame(TRIM_ROWS, "conv string, turn int, toks int")


def test_trim_head_longest_prefix(spark):
    from cerberus_spark.operators.pack import trim_to_budget

    out = trim_to_budget(_trim_df(spark), "conv", ["turn"], "toks", 350, keep="head")
    got = {(r.conv, r.turn): r.cum_tokens for r in out.collect()}
    # c1: 100, 300 fit; +150 would be 450 > 350; turn 3 can't skip the gap
    assert got == {("c1", 0): 100, ("c1", 1): 300, ("c3", 0): 10, ("c3", 1): 20}


def test_trim_tail_keeps_recent_turns(spark):
    from cerberus_spark.operators.pack import trim_to_budget

    out = trim_to_budget(_trim_df(spark), "conv", ["turn"], "toks", 350, keep="tail")
    got = {(r.conv, r.turn): r.cum_tokens for r in out.collect()}
    # c1 from the back: 50, 200, 400>350 stop -> turns 3,2 kept
    assert got == {("c1", 3): 50, ("c1", 2): 200, ("c3", 1): 10, ("c3", 0): 20}


def test_trim_exact_boundary_inclusive(spark):
    from cerberus_spark.operators.pack import trim_to_budget

    out = trim_to_budget(_trim_df(spark), "conv", ["turn"], "toks", 300, keep="head")
    assert {(r.conv, r.turn) for r in out.collect() if r.conv == "c1"} == {("c1", 0), ("c1", 1)}


def test_trim_bad_keep_raises(spark):
    import pytest

    from cerberus_spark.operators.pack import trim_to_budget

    with pytest.raises(ValueError):
        trim_to_budget(_trim_df(spark), "conv", ["turn"], "toks", 10, keep="middle")


# ---------------------------------------------------------------------------
# cap_per_group / winsorize
# ---------------------------------------------------------------------------


def test_cap_per_group_caps_and_is_deterministic(spark):
    from cerberus_spark.operators.sample import cap_per_group

    rows = [(i, f"dom{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = cap_per_group(df, "domain", 10, "doc_id")
    per = {r.domain: r.n for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert per == {"dom0": 10, "dom1": 10, "dom2": 10}
    # deterministic across shuffles/partitionings
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in cap_per_group(df.repartition(7), "domain", 10, "doc_id").collect())
    assert a == b
    # small groups pass through whole
    assert cap_per_group(df, "domain", 50, "doc_id").count() == 90
    # different salt -> different (still deterministic) subset
    c = sorted(r.doc_id for r in cap_per_group(df, "domain", 10, "doc_id", salt="v2").collect())
    assert a != c


def test_winsorize_matches_numpy(spark):
    import numpy as np

    from cerberus_spark.checks.stats import winsorize

    vals = [float(v) for v in range(1, 101)] + [10000.0, -10000.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v double")
    out = {r.id: r.v_w for r in winsorize(df, "v", 0.05, 0.95).collect()}
    lo, hi = np.percentile(vals, [5, 95])
    want = {i: float(np.clip(v, lo, hi)) for i, v in enumerate(vals)}
    assert out == pytest.approx(want)


def test_winsorize_grouped_and_nulls(spark):
    from cerberus_spark.checks.stats import winsorize

    rows = [("a", float(v)) for v in range(10)] + [("b", 1000.0), ("b", 0.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", 0.0, 1.0, group_cols=["g"])  # identity clip
    got = [(r.g, r.v, r.v_w) for r in out.collect()]
    assert all(vw == v for _, v, vw in got if v is not None)
    assert any(v is None and vw is None for _, v, vw in got)


# ---------------------------------------------------------------------------
# quantile_buckets (CCNet-style head/middle/tail)
# ---------------------------------------------------------------------------


def test_quantile_buckets_matches_python_twin(spark):
    """Type-1 per-group quantile bucketing == a hand-rolled twin,
    including ties at the threshold (all land in the earlier bucket)
    and NULL scores (no bucket, excluded from n)."""
    import math

    rows = [
        # lang en: scores 1..9 -> thresholds at ceil(9/3)=3rd (3.0) and
        # ceil(9*2/3)=6th (6.0)
        *[("en", f"e{i}", float(i)) for i in range(1, 10)],
        # lang fr: heavy tie at 5.0 (4 of 5 rows) -> head swallows ties
        ("fr", "f1", 1.0),
        *[("fr", f"f{i}", 5.0) for i in range(2, 6)],
        # lang de: single row -> everything is head
        ("de", "d1", 42.0),
        ("en", "enull", None),
        # NULL group: no histogram can match it (join keys never equal
        # NULL) -> must stay unbucketed, never default to 'tail'
        (None, "gnull", 7.0),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id string, score double")

    from cerberus_spark.operators.sample import quantile_buckets

    got = {
        r.doc_id: r.bucket
        for r in quantile_buckets(df, "score", group_col="lang").collect()
    }

    def twin(scores, cuts=(333, 667)):
        ss = sorted(round(s, 6) for s in scores if s is not None)
        n = len(ss)
        thr = []
        for q in cuts:
            need = (n * q + 999) // 1000
            cum = 0
            for s in ss:
                cum += 1  # distinct handled by <= comparison below
                if cum >= need:
                    thr.append(s)
                    break
        return thr

    assert got["gnull"] is None

    by_lang: dict = {}
    for lang, d, s in rows:
        if lang is None:
            continue
        by_lang.setdefault(lang, []).append((d, s))
    for lang, docs in by_lang.items():
        t = twin([s for _, s in docs])
        for d, s in docs:
            if s is None:
                assert got[d] is None
            elif round(s, 6) <= t[0]:
                assert got[d] == "head", (d, s, t)
            elif round(s, 6) <= t[1]:
                assert got[d] == "middle", (d, s, t)
            else:
                assert got[d] == "tail", (d, s, t)

    # the fr tie: threshold1 = 2nd smallest = 5.0, so ALL ties are head
    assert {got[f"f{i}"] for i in range(2, 6)} == {"head"}
    assert got["d1"] == "head"


def test_quantile_buckets_global_and_validation(spark):
    from cerberus_spark.operators.sample import quantile_buckets

    df = spark.createDataFrame(
        [(f"d{i}", float(i)) for i in range(1, 11)], "doc_id string, score double"
    )
    got = {
        r.doc_id: r.bucket
        for r in quantile_buckets(df, "score", cuts_permille=(500,), labels=("lo", "hi")).collect()
    }
    # type-1 median of 1..10 = 5th value = 5.0
    assert all(got[f"d{i}"] == "lo" for i in range(1, 6))
    assert all(got[f"d{i}"] == "hi" for i in range(6, 11))

    import pytest

    with pytest.raises(ValueError):
        quantile_buckets(df, "score", labels=("a", "b"))  # wrong arity
    with pytest.raises(ValueError):
        quantile_buckets(df, "score", cuts_permille=(700, 300))


def test_quantile_buckets_threshold_join_is_broadcast_no_data_window(spark):
    """The scan side must never be window-sorted: thresholds reduce to
    |groups| rows and broadcast back (the anti-ntile shape)."""
    from cerberus_spark.operators.sample import quantile_buckets

    df = spark.createDataFrame(
        [("en", f"d{i}", float(i % 7)) for i in range(100)],
        "lang string, doc_id string, score double",
    )
    out = quantile_buckets(df, "score", group_col="lang")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
