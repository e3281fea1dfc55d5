"""Driver contract for the spark-graft builder (PySpark target).

Every entry pairs a Spark implementation of a reference operator with
an ANSI-SQL DuckDB oracle over the same parquet tables, so the sf0.01
comparison (row-count + schema + order-insensitive value-hash)
exercises the library's operators end-to-end.  Every pair calls
``cerberus_spark`` code (``tests/test_plumbing.py`` checks it); a pair
of plain ``pyspark`` would prove only Spark itself.
Determinism rules: cross-engine hashes are md5-derived (never
Spark-native hash functions), money sums add integer cents and divide
by 100 at the end, other doubles are rounded at fixed precision on BOTH
sides, ranks are computed on the rounded values with total tiebreaks.
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cerberus_spark.checks.drift import drift_report, categorical_histogram, numeric_histogram
from cerberus_spark.checks.referential import referential_orphans
from cerberus_spark.checks.stats import column_profile, numeric_quantiles
from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.functions.text import (
    quality_score_milli,
    token_count_bpeish,
    token_count_robust_sql,
    token_count_ws,
    lang_id,
)
from cerberus_spark.operators.classify import Classifier
from cerberus_spark.operators.dedup import (
    exact_dedup_groups,
    fingerprint,
    minhash_dup_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from cerberus_spark.operators.similarity import cosine_topk
from cerberus_spark.operators.topk import top_k_per_group
from cerberus_spark.sources.tables import spread
from cerberus_spark.validation import validate

# ---------------------------------------------------------------------------
# shared constants (must stay in sync between Spark impls and oracle SQL)
# ---------------------------------------------------------------------------

ALLOWED_EVENT_TYPES = ["click", "purchase", "signup", "view"]  # 'error' excluded
VALUE_MIN, VALUE_MAX = 0.05, 400.0
PROPS_REGEX = '\\{"k": [0-9]{2}\\}'  # two-digit k required; 1-digit -> violation
DRIFT_SPLIT = "2024-01-08 00:00:00"
VALUE_EDGES = [0.0, 1.0, 5.0, 10.0, 50.0, 100.0, 200.0, 400.0, 1e18]
#: columns probed by the null-rate drift pair (Spark + SQL generated
#: from this one list so the engines cannot drift)
NULL_DRIFT_COLS = ["event_type", "value", "props"]
#: thresholds of the gopher_gate pair.  gopher_reasons' defaults drop
#: every sf0.01 document (dup_words alone fires on 426 of 500); a token
#: floor of 30 and a dup-word cap of 600 keep about half, so the pair
#: compares both the keep and the drop path
GOPHER_GATE = {
    "min_tokens": 30,
    "max_tokens": 100_000,
    "max_dup_word_milli": 600,
    "max_top_word_milli": 200,
    "max_dup_2gram_milli": 200,
    "min_quality_milli": 500,
}

# sequence grammar over events (shared Spark <-> oracle; see
# cerberus_spark/checks/sequence.py): purchases must follow a
# click/view, signups never repeat back-to-back, and a session cannot
# open with a purchase or an error.
SEQ_STATES = ["click", "error", "purchase", "signup", "view"]
SEQ_DISALLOWED = [
    ("signup", "signup"),
    ("error", "purchase"),
    ("purchase", "purchase"),
    ("signup", "purchase"),
]
SEQ_ALLOWED = sorted(
    {(a, b) for a in SEQ_STATES for b in SEQ_STATES} - set(SEQ_DISALLOWED)
)
SEQ_ALLOWED_FIRST = ["click", "signup", "view"]

EVENT_RULES = {
    "event_type": {"type": "string", "required": True, "allowed": ALLOWED_EVENT_TYPES},
    "value": {"type": "number", "min": VALUE_MIN, "max": VALUE_MAX},
    "props": {"type": "string", "regex": PROPS_REGEX},
    "ts": {"type": "timestamp", "required": True},
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col: str) -> Column:
    """``col`` in whole cents as a long.  Money sums add these and divide
    by 100 at the end, so the total is exact in any summation order (a
    double sum depends on the partitioning); the oracle sums
    ``CAST(round(col * 100) AS BIGINT)`` the same way."""
    return F.round(F.col(col) * 100).cast("long")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full rule-set validation violations on sf0.001 events."""
    return q_validate_events(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries — rule engine
# ---------------------------------------------------------------------------

def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    res = validate(ev, EVENT_RULES, key_cols=["event_id"])
    return res.violations().select(
        "event_id", "field", "rule", "value"
    )


def q_rule_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion (Deequ ConstraintSuggestion shape): profile
    every events column in TWO passes — one single-row aggregate scan
    (count/nulls/min/max/lengths + approx_count_distinct), then one
    collect_set pass ONLY for string columns the HLL gate admits — and
    emit normalized (field, rule, value) suggestions consumable by
    compile_schema.  The reference hand-writes these tables
    (monitor.go:83-90 allowed-port sets); we derive them from data."""
    from cerberus_spark.checks.suggest import suggestion_rows

    return suggestion_rows(spark, _t(spark, sf_dir, "events"), distinct_cap=16)


def q_validate_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended Cerberus vocabulary in-query: `keysrules`/`valuesrules`
    over a from_json map (F.exists on map_keys/map_values — no
    explode), `contains` on an array column, and the `allof`/`noneof`
    combinators.  Value column dropped: Spark renders a map as
    '{k -> v}' vs DuckDB '{k=v}', and value rendering is already
    oracle-gated by validate_nested."""
    from cerberus_spark.plans.barrier import evaluate_once

    ev = _t(spark, sf_dir, "events")
    parsed = evaluate_once(ev, "_pm", F.from_json("props", "map<string,int>"))
    base = parsed.select(
        "event_id",
        F.col("_pm").alias("pm"),
        F.split(
            F.concat_ws(
                ",", "event_type",
                F.when(F.col("user_id") % 2 == 0, F.lit("beta")),
            ),
            ",",
        ).alias("tags"),
        (F.col("user_id") % 100).cast("int").alias("vnum"),
    )
    rules = {
        "pm": {
            "type": "dict",
            "keysrules": {"allowed": ["k"]},   # never fires (keys are 'k')
            "valuesrules": {"min": 10},
        },
        "tags": {"type": "list", "contains": ["beta"]},
        "vnum": {
            "type": "integer",
            "allof": [{"min": 10}, {"max": 89}],
            "noneof": [{"allowed": [13, 17]}],
        },
    }
    res = validate(base, rules, key_cols=["event_id"])
    return res.violations().select("event_id", "field", "rule")


def q_validate_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested rule vocabulary over a struct derived in-query with
    from_json: `schema` (subfield rules compiled to getField
    predicates, dotted violation paths), `items` (array-element rules
    via F.exists — no explode), and a `oneof` combinator.  Reference
    analog: composed kernel pre-classifiers checking port AND
    payload-content predicates on one packet (ebpf/cerberus_tc.c:
    90-122).  Oracle recomputes the same violations with DuckDB
    json_extract."""
    from cerberus_spark.plans.barrier import evaluate_once

    ev = _t(spark, sf_dir, "events")
    # parse the JSON ONCE behind a Generate barrier: from_json is
    # CodegenFallback and the rule compiler fans the parsed struct out
    # into many predicates — without the barrier CollapseProject
    # inlines 24 parses per row (measured ~3x wall)
    parsed = evaluate_once(ev, "_pj", F.from_json("props", "k int"))
    k = F.col("_pj").getField("k")
    base = parsed.select(
        "event_id",
        # null out the struct for purchases so the nested `required`
        # gate has a population to fire on
        F.when(F.col("event_type") != "purchase", F.col("_pj")).alias("p"),
        F.array(k, k + F.lit(5)).alias("tags"),
        k.alias("x"),
    )
    rules = {
        "p": {
            "type": "dict",
            "required": True,
            "schema": {"k": {"required": True, "min": 5, "max": 90}},
        },
        "tags": {"type": "list", "items": {"max": 94}},
        "x": {"oneof": [{"min": 10, "max": 80}, {"allowed": [50, 95]}]},
    }
    res = validate(base, rules, key_cols=["event_id"])
    return res.violations().select("event_id", "field", "rule", "value")


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches: per-(event_type, day) fixed-bin
    histogram states merged UP to event_type by vector addition (no
    rescan of raw data — the re-aggregatable percentile rollup shape;
    cerberus_spark.checks.sketches), then interpolated q50/q90 read
    from the merged state.  The DuckDB oracle recomputes the identical
    binning + interpolation, proving the merge is exact."""
    from cerberus_spark.checks.sketches import (
        histogram_group_sketches,
        histogram_quantile,
        histogram_rollup,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    per = histogram_group_sketches(ev, ["event_type", "day"], "value", 0.0, 500.0, n_bins=100)
    merged = histogram_rollup(per, ["event_type"])
    total = F.aggregate(F.col("state"), F.lit(0).cast("long"), lambda a, x: a + x)
    return merged.select(
        "event_type",
        total.alias("n_values"),
        F.round(histogram_quantile(F.col("state"), 0.5, 0.0, 500.0), 4).alias("q50"),
        F.round(histogram_quantile(F.col("state"), 0.9, 0.0, 500.0), 4).alias("q90"),
    )


def q_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return validate(ev, EVENT_RULES, key_cols=["event_id"]).summary()


DOC_RULES = {
    "text": {"type": "string", "required": True, "minlength": 60, "maxlength": 500, "empty": False},
    "lang": {"type": "string", "allowed": ["en", "de", "fr", "es"]},  # zh -> violation
    "source": {"type": "string", "nullable": False, "regex": "src[0-9]{1,2}", "forbidden": ["src13"]},
    "n_chars": {"type": "integer", "min": 0, "max": 520},
}


def q_validate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the rule types validate_events doesn't: minlength /
    maxlength / empty / forbidden / nullable."""
    docs = _t(spark, sf_dir, "documents")
    res = validate(docs, DOC_RULES, key_cols=["doc_id"])
    return res.violations().select("doc_id", "field", "rule")


def q_classify_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match-wins cascade (reference classifier analog C1-C11)."""
    ev = _t(spark, sf_dir, "events")
    et, v = F.col("event_type"), F.col("value")
    label = (
        Classifier("CUSTOM")
        .when((et == "purchase") & (v > 100.0), "BIG_PURCHASE")
        .when(et == "purchase", "PURCHASE")
        .when(et == "error", "ERROR")
        .when(et.isin(["click", "view"]) & (v < 1.0), "LOW_ENGAGEMENT")
        .when(et == "click", "CLICK")
        .when(et == "view", "VIEW")
        .when(et == "signup", "SIGNUP")
        .column()
    )
    return ev.select("event_id", label.alias("label"))


# ---------------------------------------------------------------------------
# queries — distributed checks
# ---------------------------------------------------------------------------

def q_uniqueness_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, day) is a dup-HEAVY key (~30% of rows violate), so the
    one-shuffle groupBy's map-side partial combine does the reducing."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    return uniqueness_violations(ev, ["user_id", "day"])


def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast anti-join vs an inline catalog (error type excluded)."""
    ev = _t(spark, sf_dir, "events")
    catalog = spark.createDataFrame(
        [(t,) for t in ALLOWED_EVENT_TYPES], schema="event_type string"
    )
    return referential_orphans(ev, "event_type", catalog, "event_type").select(
        "event_id", "event_type"
    )


def q_referential_lineitem_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-FK integrity (expected empty — verifies the join, not the data)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return referential_orphans(li, "l_partkey", part, "p_partkey").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )


def q_column_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return column_profile(ev, ["event_type", "user_id", "value", "props"]).select(
        "column_name", "n_rows", "n_null", "n_distinct", "min_value", "max_value"
    )


def q_quantiles_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    return numeric_quantiles(docs, "n_chars", [0.25, 0.5, 0.75, 0.95]).select(
        "column_name", "p", F.round(F.col("value"), 4).alias("value")
    )


def q_drift_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = categorical_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "event_type")
    cur = categorical_histogram(ev.filter(F.col("ts") >= DRIFT_SPLIT), "event_type")
    return drift_report(base, cur, "event_type").select(
        "column_name",
        F.round(F.col("kl"), 6).alias("kl"),
        F.round(F.col("psi"), 6).alias("psi"),
    )


def q_drift_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    base = numeric_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "value", VALUE_EDGES)
    cur = numeric_histogram(ev.filter(F.col("ts") >= DRIFT_SPLIT), "value", VALUE_EDGES)
    return drift_report(base, cur, "value").select(
        "column_name",
        F.round(F.col("kl"), 6).alias("kl"),
        F.round(F.col("psi"), 6).alias("psi"),
    )


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-≤1 fuzzy self-join on supplier names via deletion
    neighborhoods (FastSS): ONE equi-join on the 1-deletion variant
    (bounded len(key)+1 expansion per row) + exact levenshtein verify —
    result EXACTLY equals the quadratic theta join the oracle runs,
    which at 100 TB would be an un-plannable nested loop
    (operators/fuzzy.py).  Cap raised so no true pair is dropped at
    this SF (the capped path is pytest-locked)."""
    from cerberus_spark.operators.fuzzy import edit1_pairs

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return edit1_pairs(sup, "s_suppkey", "s_name", bucket_cap=10_000)


def q_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the web-corpus per-host cap): keep ≤ 10
    docs per source by DETERMINISTIC md5 rank — an unbiased, engine-
    and partitioning-stable subset, never scan-order "first 10"
    (operators/sample.py:cap_per_group).  Cap 10 bites at every SF
    (the synthetic corpus spreads 25+ docs per source)."""
    from cerberus_spark.operators.sample import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, "source", 10, "doc_id")


def q_winsorize_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization of event values into the [p5, p95]
    envelope — one |groups|-sized order-statistic aggregate broadcast
    onto the scan, codegen'd clip (checks/stats.py:winsorize)."""
    from cerberus_spark.checks.stats import winsorize

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = winsorize(ev, "value", 0.05, 0.95, group_cols=["event_type"])
    return out.select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 6).alias("value"),
        F.round(F.col("value_w"), 6).alias("value_w"),
    )


def q_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-volume anomaly monitor: hourly window counts vs the
    trailing-6-window mean, ratio band [0.5, 2.0] — one |windows|-sized
    frame after a single partial-agg'd groupBy
    (checks/stats.py:volume_anomalies)."""
    from cerberus_spark.checks.stats import volume_anomalies

    ev = _t(spark, sf_dir, "events")
    return volume_anomalies(ev, "ts", "1 hour", trailing=6)


def q_windowed_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-time-window chi-square + G-test against the frozen
    pre-split baseline — windowed_drift_report's no-expansion shape
    applied to the frequentist statistics (absent baseline bins
    contribute exactly their expected count, a per-window scalar;
    checks/drift.py:windowed_chi2_report)."""
    from cerberus_spark.checks.drift import (
        windowed_categorical_histograms,
        windowed_chi2_report,
    )

    ev = _t(spark, sf_dir, "events")
    base = categorical_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "event_type")
    wins = windowed_categorical_histograms(
        ev.filter(F.col("ts") >= DRIFT_SPLIT), "event_type", "ts", "1 day"
    )
    return windowed_chi2_report(wins, base, "event_type")


def q_windowed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-time-window drift: KL/PSI of each post-split 1-day
    window's event_type histogram against the frozen pre-split
    baseline (the streaming drift-monitor shape — the same
    ``windowed_categorical_histograms`` expression runs under
    readStream; cross-validated in tests/test_checks.py).  Reference
    analog: periodic ticker stats vs steady-state
    (cmd/cerberus/main.go:124-150) generalized to drift."""
    from cerberus_spark.checks.drift import (
        windowed_categorical_histograms,
        windowed_drift_report,
    )

    ev = _t(spark, sf_dir, "events")
    base = categorical_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "event_type")
    wins = windowed_categorical_histograms(
        ev.filter(F.col("ts") >= DRIFT_SPLIT), "event_type", "ts", "1 day"
    )
    return windowed_drift_report(wins, base, "event_type").select(
        "window_start",
        "window_end",
        "column_name",
        F.round(F.col("kl"), 6).alias("kl"),
        F.round(F.col("psi"), 6).alias("psi"),
    )


def q_windowed_drift_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric twin of windowed_drift: per-day KL/PSI of the FROZEN-
    edge value histogram vs the pre-split baseline
    (checks/drift.py:windowed_numeric_histograms)."""
    from cerberus_spark.checks.drift import (
        windowed_drift_report,
        windowed_numeric_histograms,
    )

    ev = _t(spark, sf_dir, "events")
    base = numeric_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "value", VALUE_EDGES)
    wins = windowed_numeric_histograms(
        ev.filter(F.col("ts") >= DRIFT_SPLIT), "value", VALUE_EDGES, "ts", "1 day"
    )
    return windowed_drift_report(wins, base, "value").select(
        "window_start",
        "window_end",
        "column_name",
        F.round(F.col("kl"), 6).alias("kl"),
        F.round(F.col("psi"), 6).alias("psi"),
    )


# ---------------------------------------------------------------------------
# queries — per-key aggregation / ordering / top-k (reference A1-A7, T1-T2)
# ---------------------------------------------------------------------------

def q_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A7 analog: the per-user profile of ``key_profile`` (reference
    DeviceInfo, monitor.go:322-368).  The label map renders as a sorted
    'label:count' string and the first three distinct ``props`` as a
    string in first-seen order, so the compare is map-type-free; money
    is summed in cents.  A user with no non-NULL label renders NULL, as
    DuckDB's ``string_agg`` over no rows does."""
    from cerberus_spark.operators.aggregate import key_profile

    ev = _t(spark, sf_dir, "events").withColumn("value_cents", _cents("value"))
    prof = key_profile(
        ev, "user_id", "event_type", "ts", value_col="value_cents",
        target_col="props", max_targets=3, tiebreak_col="event_id",
    )
    label_counts = F.transform(
        F.map_entries("label_counts"),
        lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
    )
    return prof.select(
        "user_id",
        "n_events",
        F.when(F.size("label_counts") > 0, F.array_join(F.sort_array(label_counts), ","))
        .alias("label_counts"),
        "first_seen",
        "last_seen",
        (F.col("total_value") / 100).alias("total_value"),
        "last_label",
        F.array_join("targets", ",").alias("targets"),
    )


def q_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cerberus_spark.operators.dedup import first_occurrence

    ev = _t(spark, sf_dir, "events")
    return first_occurrence(ev, ["user_id", "event_type"], ["ts", "event_id"]).select(
        "user_id", "event_type", "event_id", "ts"
    )


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return top_k_per_group(ev, "user_id", "event_type", k=2)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cerberus_spark.operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", gap_seconds=1800, tiebreak="event_id")
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("sess_len")
    )
    return per_sess.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.max("sess_len").alias("max_sess_len"),
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column profiling: L2 norm per embedding (codegen'd
    aggregate over array<float>, no UDF)."""
    from cerberus_spark.operators.similarity import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(l2_norm(F.col("embedding")), 4).alias("l2"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate ANN: coarse-quantize to 4 fixed
    centroids (vec_id 0-3), search only the query's bucket.  The
    candidate join is an equi-join on bucket — the 100 TB scale path
    vs brute force (cerberus_spark.operators.similarity.ivf_topk)."""
    from cerberus_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    queries_df = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    # sim is rounded INSIDE ivf_topk before its ranking window, so the
    # k-truncation itself is bit-stable across engines
    return ivf_topk(emb, queries_df, centroids, k=3).select(
        "query_id", "neighbor_id", "sim", "rk"
    )


def q_ivf_topk_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN (probes=2): the query side fans out to its 2
    nearest centroid buckets (similarity.py:ivf_probe_assign) — the
    standard recall knob for Voronoi-boundary queries; the candidate
    join stays an equi-join on bucket, candidates ~2× a single probe,
    never |corpus|."""
    from cerberus_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    queries_df = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    return ivf_topk(emb, queries_df, centroids, k=3, probes=2).select(
        "query_id", "neighbor_id", "sim", "rk"
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via IVF bucketing (16 fixed
    centroids = vec_id 0-15): only same-bucket pairs are scored — the
    100 TB shape (bucket equi-join, never an all-pairs cross join).
    Threshold 0.4 on near-orthogonal synthetic embeddings keeps the
    result small while exercising the full path."""
    from cerberus_spark.operators.similarity import cosine_neardup_pairs

    emb = spread(_t(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    return cosine_neardup_pairs(emb, threshold=0.4, centroids=centroids)


def q_cosine_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF near-dup pairs WITH the bucket-size cap (similarity.py
    bucket_cap): buckets larger than 35 vectors are dropped whole
    before the pair self-join — closes the last uncapped candidate
    generator (a degenerate centroid otherwise reintroduces the n²
    pair explosion the LSH caps bound).  At sf0.01 the census is
    20-42 per bucket, so cap=35 genuinely drops the 4 hot buckets."""
    from cerberus_spark.operators.similarity import cosine_neardup_pairs

    emb = spread(_t(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    return cosine_neardup_pairs(
        emb, threshold=0.4, centroids=centroids, bucket_cap=35
    )


def q_stream_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming path: the SAME compiled rule set applied to
    a readStream over the events table (availableNow -> memory sink),
    then violation counts — results must equal the batch/SQL oracle.
    Proves rule compilation is plan-mode agnostic (W1/W2 analog).
    File streams need a directory source, so the stream reads ``sf_dir``
    filtered to the events file."""
    import uuid

    name = f"st_{uuid.uuid4().hex[:8]}"
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    violations = validate(stream, EVENT_RULES).annotated.select(
        F.explode(F.col("_violations")).alias("v")
    ).select(F.col("v.field").alias("field"), F.col("v.rule").alias("rule"))
    q = (
        violations.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("field", "rule")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )


def q_salted_label_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (north_rule: 'skew handled by
    salted repartitioning'): (key, label, salt) partials -> merge.
    Results must equal a plain GROUP BY — the oracle proves it."""
    from cerberus_spark.operators.aggregate import salted_count_map

    ev = _t(spark, sf_dir, "events")
    return salted_count_map(ev, "user_id", "event_type", n_salts=8)


# ---------------------------------------------------------------------------
# queries — text and media analysis
# ---------------------------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the contract: deterministic synthetic
    media table (binary payload + typed metadata) -> Arrow-batched
    feature extraction (stubbed decode).

    FULLY oracle-checked: the stub decoder is sha256-of-payload sliced
    into 16 little-endian uint16s (/65535 as float32), and the payload
    is 'payload-' || md5(id) — all SQL-expressible, so DuckDB recovers
    the exact integers via hex arithmetic on sha256().  The query
    renders features as the recovered uint16 CSV string
    (round(f·65535) is exact: float32 quantization error ≪ 0.5), so
    the hash compare is float-free.  A real deployment swaps only
    _fake_decode for PIL/ffmpeg."""
    from cerberus_spark.functions.multimodal import extract_features, synthesize_media

    media = synthesize_media(spark, 512)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.array_join(
            F.transform(
                "features",
                lambda x: F.round(x.cast("double") * 65535).cast("int").cast("string"),
            ),
            ",",
        ).alias("features_u16"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count_ws(t).cast("long").alias("n_tokens_ws"),
        token_count_bpeish(t).cast("long").alias("n_tokens_bpe"),
        quality_score_milli(t).alias("quality_milli"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


def q_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/text.py:normalize_unicode,
    Arrow pandas_udf over unicodedata) vs DuckDB's nfc_normalize — the
    canonical first step of every web-corpus pipeline, promoted from
    the r3 in-test byte-match to a full contract pair.  md5 of the
    normalized text locks the exact bytes; strip_controls=False so both
    engines compute pure NFC."""
    from cerberus_spark.functions.text import normalize_unicode

    docs = spread(_t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5(normalize_unicode("text", strip_controls=False)).alias("nfc_md5"),
    )


def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-style keep/drop gate (functions/text.py:
    gopher_report_arrow): one Arrow pass per document assembles the
    token budget, repetition permilles, and quality score into
    (keep, reasons) — the oracle SQL is built from the SAME permille
    expressions as the individually gated doc_quality/doc_repetition
    pairs, reason order fixed by gopher_reasons."""
    from cerberus_spark.functions.text import gopher_report_arrow

    docs = spread(_t(spark, sf_dir, "documents"))
    return gopher_report_arrow(docs, "text", **GOPHER_GATE).select(
        "doc_id", "keep", F.array_join("reasons", ",").alias("reasons")
    )


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher character-coverage n-gram rules at k=3: permille of
    normalized-text characters covered by the most frequent 3-gram and
    by all duplicated 3-grams (ties on count take the longest gram in
    BOTH engines).  Served by the single-pass Arrow scan
    (repetition_metrics); the SQL twin replays via unnest+count."""
    from cerberus_spark.functions.text import repetition_metrics

    docs = _t(spark, sf_dir, "documents")
    return repetition_metrics(docs, "text", "doc_id", char_ks=(3,)).select(
        "doc_id", "top_3gram_char_milli", "dup_3gram_char_milli"
    )


def q_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed interval merging (operators/winnow.py:
    merge_intervals) — the mergeable step of remove_shared_spans
    cross-engine proven on deterministic intervals derived from events
    (lo = floor(value), hi = lo + 1 + event_id % 19, keyed by user):
    gaps-and-islands, one shuffle + two window passes."""
    from cerberus_spark.operators.winnow import merge_intervals

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.floor(F.col("value")).cast("long").alias("lo"),
        (F.floor(F.col("value")).cast("long") + 1 + F.col("event_id") % 19).alias("hi"),
    )
    return merge_intervals(iv, ["user_id"], "lo", "hi")


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_t(spark, sf_dir, "documents"))
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each click gets the user's most
    recent purchase at-or-before the click.  Union + carry-forward
    window — ONE shuffle + ONE local sort, never a range join
    (cerberus_spark.operators.asof; reference analog: state-as-of-event
    read-through, internal/monitor/monitor.go:265-276)."""
    from cerberus_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(
        (F.col("event_type") == "click") & (F.col("user_id") < 30)
    ).select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("p_value"))
    )
    out = asof_join(
        clicks, purchases, ["user_id"], "ts", "ts", ["p_value"], suffix="_prev"
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_prev").alias("prev_purchase_ts"),
        F.col("p_value_prev").alias("prev_purchase_value"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join done scale-safe: events matched to overlapping 24h
    campaign windows via chunk bucketing (explode intervals into day
    chunks -> ONE equi-join on chunk -> exact bound re-check) — never
    the BroadcastNestedLoopJoin Spark would plan for the raw theta
    join.  Campaigns are a deterministic inline dimension (20 windows,
    36h stride, so neighbors overlap and some events match twice)."""
    from cerberus_spark.operators.rangejoin import interval_join

    ev = _t(spark, sf_dir, "events")
    camp = spark.range(20).select(
        F.col("id").alias("campaign_id"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0,0,0,0,36*id,0,0)"
        ).alias("start_ts"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00' + make_interval(0,0,0,0,36*id+24,0,0)"
        ).alias("end_ts"),
    )
    j = interval_join(ev, "ts", camp, "start_ts", "end_ts", chunk_seconds=86_400)
    return j.groupBy("campaign_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(_cents("value")) / 100).alias("total_value"),
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by key hash (90/5/5): a
    record's split is a pure function of doc_id — stable across runs,
    partitionings, and engines (no RNG, no shuffle)."""
    from cerberus_spark.operators.sample import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


def q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-doc-per-duplicate-cluster: MinHash LSH pairs ->
    connected components -> per cluster the LONGEST member survives
    (max n_chars, ties to min doc_id) — the explicit quality policy a
    dedup pass applies when picking which near-identical copy to keep,
    vs dedup_clusters' positional min-id flag.  One extra equi-join +
    one partial-aggregable groupBy on top of the cluster pass
    (connected_components directly — dedup_clusters' csize/keep join
    would be dead weight here; the representative agg counts csize
    itself)."""
    from cerberus_spark.operators.graph import cluster_representatives, connected_components

    docs = spread(_t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_k=3)
    cand = minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=4)
    clusters = connected_components(cand)
    return cluster_representatives(
        clusters, _t(spark, sf_dir, "documents"), "doc_id", "n_chars"
    )


def q_sequence_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup: fingerprint each (user, day)
    conversation's ORDERED event_type sequence and emit fingerprints
    shared by >1 conversation — duplicate whole conversations that
    per-turn fingerprinting cannot see.  One groupBy(conv) shuffle +
    one |convs|-row groupBy(fp); the render (array_sort + transform +
    array_join) stays codegen inside the first aggregate."""
    from cerberus_spark.operators.dedup import sequence_dup_groups

    ev = _conv_keyed_events(spark, sf_dir)
    return sequence_dup_groups(ev, "conv_key", ["ts", "event_id"], "event_type")


def _conv_keyed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events keyed by (user, day) conversation — shared by the
    sequence-dedup family (exact + near)."""
    return _t(spark, sf_dir, "events").withColumn(
        "conv_key",
        F.concat_ws(
            "|",
            F.col("user_id").cast("string"),
            F.date_trunc("day", F.col("ts")).cast("date").cast("string"),
        ),
    )


def q_conv_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level MinHash: one 16-position signature per
    (user, day) conversation over ordered turn-bigram shingles —
    exploded to (key, h_idx, h_val) for the cross-engine compare.
    ONE exchange: the signature groupBy rides the lag-window's
    hash(key) partitioning (locked in tests/test_plans.py)."""
    from cerberus_spark.operators.dedup import sequence_minhash

    sigs = sequence_minhash(
        _conv_keyed_events(spark, sf_dir), "conv_key", ["ts", "event_id"], "event_type"
    )
    return sigs.select(
        "key", F.posexplode("sig").alias("h_idx", "h_val")
    ).select("key", F.col("h_idx").cast("int").alias("h_idx"), "h_val")


def q_conv_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level NEAR dedup: LSH banding over the sequence
    MinHash signatures — pairs of (user, day) conversations whose
    ordered event_type sequences are near-identical (a few edited /
    inserted turns), which exact sequence fingerprints cannot see.
    Same banded bucket-join shape as the document MinHash family,
    with the bucket_cap guard ON (cap=8): transcript corpora are full
    of byte-identical SHORT conversations whose shared signature makes
    one degenerate bucket per band — quadratic pairs no partitioning
    fixes.  Capped buckets are dropped whole (visible, never silent);
    their members are exact dups and `sequence_dups` already reports
    them."""
    from cerberus_spark.operators.dedup import sequence_neardup_candidates

    return sequence_neardup_candidates(
        _conv_keyed_events(spark, sf_dir),
        "conv_key",
        ["ts", "event_id"],
        "event_type",
        bands=4,
        rows_per_band=4,
        bucket_cap=8,
    )


def q_conv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation near-dup VERIFY: the LSH candidates re-scored with
    exact Jaccard over each conversation's distinct turn-bigram shingle
    set, kept at >= 0.25 — banding recalls, Jaccard decides (the
    conversation twin of the document candidate->verify contract).
    Verify-join volume is |capped candidates| x avg shingles, never
    all-pairs."""
    from cerberus_spark.operators.dedup import sequence_neardup_pairs

    return sequence_neardup_pairs(
        _conv_keyed_events(spark, sf_dir),
        "conv_key",
        ["ts", "event_id"],
        "event_type",
        bands=4,
        rows_per_band=4,
        bucket_cap=8,
        threshold=0.25,
    )


def q_conv_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation dedup clusters: connected components over the
    VERIFIED near-dup pairs (jaccard >= 0.5) with cluster size and the
    canonical-survivor flag — the conversation-level survivorship pass
    a transcript corpus runs after near-dedup, same machinery as the
    document families (pointer-shortcut CC, ~log2(diameter) rounds)."""
    from cerberus_spark.operators.dedup import sequence_neardup_pairs
    from cerberus_spark.operators.graph import dedup_clusters

    pairs = sequence_neardup_pairs(
        _conv_keyed_events(spark, sf_dir),
        "conv_key",
        ["ts", "event_id"],
        "event_type",
        bands=4,
        rows_per_band=4,
        bucket_cap=8,
        threshold=0.5,
    )
    return dedup_clusters(pairs)


def q_transcript_clean_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end transcript cleaning (corpus.clean_transcripts): the
    (user, day) conversation stream is health-gated (any sequence
    violation — transition grammar / NULL state / ts regression /
    first state — quarantines the conversation whole), the HEALTHY
    remainder near-deduped (sequence MinHash -> LSH banding ->
    Jaccard >= 0.5 -> CC survivorship), and the self-accounting
    (stage, reason, n_convs) report returned: drop causes plus a
    ('kept', 'survivor') row, so distinct-unhealthy + losers + kept
    = |conversations|.  One composition, one lazy plan — each stage
    is its own already-gated pair (sequence_violations, conv_minhash,
    conv_jaccard, conv_clusters); this pair proves the composition."""
    from cerberus_spark.corpus import clean_transcripts

    out = clean_transcripts(
        _conv_keyed_events(spark, sf_dir),
        "conv_key",
        ["ts", "event_id"],
        "event_type",
        "ts",
        set(SEQ_ALLOWED),
        set(SEQ_ALLOWED_FIRST),
        bands=4,
        rows_per_band=4,
        bucket_cap=8,
        threshold=0.5,
    )
    return out["report"]


def q_leak_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents
    (MinHash LSH pairs -> connected components) share a duplicate
    cluster, and the split is hashed from the CLUSTER id — so a near-dup
    of a training doc can never land in test.  Unclustered docs fall
    back to their own id.  (connected_components directly — the split
    never reads dedup_clusters' csize/keep, so that groupBy+join would
    be a dead shuffle Catalyst cannot prune past the inner join.)"""
    from cerberus_spark.operators.graph import connected_components
    from cerberus_spark.operators.sample import leak_safe_split

    docs = spread(_t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=16, shingle_k=3)
    cand = minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=4)
    clusters = connected_components(cand)
    out = leak_safe_split(_t(spark, sf_dir, "documents"), "doc_id", clusters)
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing downsample: keep 100% of purchases, 20% of
    views, 10% of clicks, 0% of everything else — deterministic
    md5-bucket thresholds per class (no RNG; stable across engines and
    partitionings)."""
    from cerberus_spark.operators.sample import stratified_hash_sample

    ev = _t(spark, sf_dir, "events")
    kept = stratified_hash_sample(
        ev,
        "event_id",
        "event_type",
        {"purchase": 1.0, "view": 0.2, "click": 0.1},
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        (F.sum(_cents("value")) / 100).alias("sum_value"),
    )


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training-batch assembly: contiguous-fill
    packing of documents into 512-token packs inside 8 hash buckets
    (one shuffle + one local sort; true greedy packing is sequential
    and cannot distribute — semantics documented in operators/pack.py).

    r4: the r3 driver gate hash-mismatched this pair while an identical
    local replica passed, so every engine-version-sensitive construct
    is eliminated from both sides: token counting switched to
    token_count_robust (shared explicit hex character-class pattern,
    match-count semantics, SQL generated from the same constant — no
    ``\\s`` definition or split trailing-empty semantics), ``//``
    replaced by floor(double division), and the exclusive cumsum frame
    (UNBOUNDED..1 PRECEDING + COALESCE) replaced by the inclusive
    ROWS UNBOUNDED PRECEDING frame minus the current row — the one
    window-frame shape the gate already proves green via trim_budget."""
    from cerberus_spark.functions.text import token_count_robust
    from cerberus_spark.operators.pack import pack_documents

    docs = _t(spark, sf_dir, "documents")
    packed = pack_documents(
        docs, "doc_id", token_count_robust(F.col("text")), budget=512, n_buckets=8
    )
    return packed.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("sum_tokens")
    )


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: per-term document frequency + collection
    frequency (explode -> one term-keyed shuffle, |vocab|-sized reduce)."""
    from cerberus_spark.functions.text import vocabulary

    docs = spread(_t(spark, sf_dir, "documents"))
    return vocabulary(docs, "text", "doc_id", min_df=25)


def q_boilerplate_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (C4-style line dedup,
    exercised at word granularity since the synthetic corpus has no
    newlines): units in >= 390 distinct docs are dropped from every
    document, order preserved.  Scale shape: one pair-shuffle for the
    hotness count, broadcast anti-join for removal, one doc-id shuffle
    to reassemble (operators/boilerplate.py)."""
    from cerberus_spark.operators.boilerplate import remove_boilerplate

    docs = _t(spark, sf_dir, "documents")
    return remove_boilerplate(
        docs, "text", "doc_id", min_docs=390, sep=" "
    ).select(
        "doc_id",
        "clean_text",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_total").cast("long").alias("n_total"),
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: deterministic pii-bearing text derived from
    events (email/phone/cc/ip/ssn shapes), redacted via the in-order
    regexp_replace chain with per-type counts on the progressively
    redacted text (functions/redact.py; pure codegen, no shuffle)."""
    from cerberus_spark.functions.redact import redact_documents

    ev = _t(spark, sf_dir, "events")
    pii = ev.select(
        "event_id",
        F.concat(
            F.lit("user u"), F.col("user_id").cast("string"),
            F.lit("@example.com call 555-867-"),
            F.lpad((F.col("event_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("event_id") % 2 == 0, F.lit(" card 4111 1111 1111 1111")).otherwise(F.lit("")),
            F.lit(" ip 10.0."), (F.col("user_id") % 256).cast("string"),
            F.lit("."), (F.col("event_id") % 256).cast("string"),
            F.lit(" ssn 123-45-"),
            F.lpad((F.col("user_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = redact_documents(pii, "text")
    return out.select(
        "event_id",
        "text",
        *[F.col(c).cast("long").alias(c) for c in out.columns if c.startswith("n_")],
    )


def q_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality score: per-doc average negative
    log likelihood under corpus word frequencies, vocab capped at the
    top 20 words so the OOV floor path (ln(1/total)) carries data
    (functions/text.py:unigram_logprob_scores)."""
    from cerberus_spark.functions.text import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    out = unigram_logprob_scores(docs, "text", "doc_id", vocab_size=20)
    return out.select(
        "doc_id",
        F.round(F.col("unigram_nll"), 6).alias("unigram_nll"),
        "n_tokens",
    )


def q_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM quality score: per-doc average NLL of
    p(c|p) = 0.5*cnt(p c)/cnt(p) + 0.5*p_uni(c), vocab capped at the
    top 20 words / 50 bigrams so every fallback path (capped bigram
    table, capped context, OOV floor) carries data
    (functions/text.py:bigram_logprob_scores)."""
    from cerberus_spark.functions.text import bigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    out = bigram_logprob_scores(
        docs, "text", "doc_id", vocab_size=20, bigram_size=50
    )
    return out.select(
        "doc_id",
        F.round(F.col("bigram_nll"), 6).alias("bigram_nll"),
        "n_bigrams",
    )


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split: per-LANGUAGE type-1 quantile
    thresholds over the unigram-LM NLL score, ties-to-earlier-bucket,
    pure integer threshold arithmetic — no ntile over a data-sized
    window (operators/sample.py:quantile_buckets)."""
    from cerberus_spark.functions.text import unigram_logprob_scores
    from cerberus_spark.operators.sample import quantile_buckets

    docs = _t(spark, sf_dir, "documents")
    scores = unigram_logprob_scores(docs, "text", "doc_id", vocab_size=20)
    scored = scores.join(docs.select("doc_id", "lang"), on="doc_id", how="inner")
    out = quantile_buckets(scored, "unigram_nll", group_col="lang")
    return out.select(
        "doc_id",
        "lang",
        F.round(F.col("unigram_nll"), 6).alias("unigram_nll"),
        "bucket",
    )


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-moment embedding drift: centroid cosine + L2 between the
    even- and odd-vec_id halves of the embeddings table — one
    dims-sized shuffle, no vector ever hits the driver
    (checks/drift.py:embedding_drift)."""
    from cerberus_spark.checks.drift import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift(base, cur).select(
        "n_base",
        "n_cur",
        F.round(F.col("centroid_cosine"), 6).alias("centroid_cosine"),
        F.round(F.col("centroid_l2"), 6).alias("centroid_l2"),
    )


def q_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging: |z| > 3 within event_type.
    Group moments are ONE |groups|-sized aggregate broadcast back onto
    the scan — no window, no data shuffle
    (checks/stats.py:outliers_zscore)."""
    from cerberus_spark.checks.stats import outliers_zscore

    ev = _t(spark, sf_dir, "events")
    return outliers_zscore(ev, "value", ["event_type"], threshold=3.0).select(
        "event_id", "event_type", F.round(F.col("value"), 6).alias("value"), "zscore"
    )


def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier flagging — the Iglewicz-Hoaglin
    modified z within event_type.  Two broadcast-joined |groups|-sized
    order-statistic aggregates; the table itself is never shuffled.
    Complements outliers_zscore: a heavy tail inflates mean+stddev and
    masks itself, median/MAD have a 50% breakdown point
    (checks/stats.py:outliers_mad)."""
    from cerberus_spark.checks.stats import outliers_mad

    ev = _t(spark, sf_dir, "events")
    return outliers_mad(ev, "value", ["event_type"], threshold=3.5).select(
        "event_id", "event_type", F.round(F.col("value"), 6).alias("value"), "mad_z"
    )


def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square + G-statistic drift of post-split event_type
    mix vs the pre-split baseline — the sample-size-aware frequentist
    complement of KL/PSI (checks/drift.py:chi_square_drift)."""
    from cerberus_spark.checks.drift import chi_square_drift

    ev = _t(spark, sf_dir, "events")
    base = categorical_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "event_type")
    cur = categorical_histogram(ev.filter(F.col("ts") >= DRIFT_SPLIT), "event_type")
    return chi_square_drift(base, cur, "event_type")


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample KS statistic of post-split value distribution
    vs the pre-split baseline over the FROZEN VALUE_EDGES bins — max
    CDF gap at bin boundaries, |bins|-sized state only
    (checks/drift.py:ks_drift)."""
    from cerberus_spark.checks.drift import ks_drift

    ev = _t(spark, sf_dir, "events")
    base = numeric_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "value", VALUE_EDGES)
    cur = numeric_histogram(ev.filter(F.col("ts") >= DRIFT_SPLIT), "value", VALUE_EDGES)
    return ks_drift(base, cur, "value")


def q_w1_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Wasserstein-1 (earth-mover) drift of the post-split value
    distribution vs the pre-split baseline over the FROZEN VALUE_EDGES
    bins — Σ|CDF gap| in bin units (checks/drift.py:wasserstein_drift):
    the 'how far did mass move' complement of KS/KL/chi2, |bins|-sized
    state only."""
    from cerberus_spark.checks.drift import wasserstein_drift

    ev = _t(spark, sf_dir, "events")
    base = numeric_histogram(ev.filter(F.col("ts") < DRIFT_SPLIT), "value", VALUE_EDGES)
    cur = numeric_histogram(ev.filter(F.col("ts") >= DRIFT_SPLIT), "value", VALUE_EDGES)
    return wasserstein_drift(base, cur, "value")


def q_trim_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget context trimming: keep each user's most recent
    whole events whose cumulative token count (len(props) proxy) fits
    400 — the LLM recent-context window cut.  ONE shuffle keyed on the
    conversation analog (operators/pack.py:trim_to_budget)."""
    from cerberus_spark.operators.pack import trim_to_budget

    ev = _t(spark, sf_dir, "events")
    out = trim_to_budget(
        ev,
        "user_id",
        ["ts", "event_id"],
        F.length(F.coalesce(F.col("props"), F.lit(""))),
        budget=400,
        keep="tail",
    )
    return out.select("user_id", "event_id", "n_tokens", "cum_tokens")


def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive-once equi-depth drift edges (checks/suggest.py:
    suggest_bin_edges — the 'frozen edges come from the baseline
    snapshot' step) then bin the post-split window with them: the full
    baseline→monitor handshake exercised cross-engine."""
    from cerberus_spark.checks.suggest import suggest_bin_edges

    ev = _t(spark, sf_dir, "events")
    edges = suggest_bin_edges(
        ev.filter((F.col("ts") < DRIFT_SPLIT) & F.col("value").isNotNull()),
        "value",
        n_bins=8,
    )
    return numeric_histogram(
        ev.filter(F.col("ts") >= DRIFT_SPLIT), "value", edges
    ).select("bin", "count")


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big semi join via Bloom pre-filter: lineitem rows whose part
    is in the large-size subset — non-members dropped MAP-SIDE by the
    broadcast md5-double-hash filter before the exact join sees them;
    false positives removed by the exact join, false negatives
    impossible, so the result is EXACTLY the semi join the oracle
    computes (operators/bloom.py)."""
    from cerberus_spark.operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    keys = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 46)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    return bloom_semi_join(li, keys, "l_partkey", fp_rate=0.01)


def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check user_id -> event_type: keys mapping
    to >1 distinct dependent value, with a capped deterministic sample
    of the conflicting values
    (checks/stats.py:functional_dependency_violations)."""
    from cerberus_spark.checks.stats import functional_dependency_violations

    ev = _t(spark, sf_dir, "events")
    out = functional_dependency_violations(ev, ["user_id"], "event_type", max_examples=3)
    return out.select(
        "user_id",
        "n_dependent",
        F.array_join(F.col("examples"), ",").alias("examples"),
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot promotion gate: row-level change classification between
    two derived versions of events (every 7th row removed, every 5th
    value changed, every 11th re-keyed as added).  Each side reduces to
    (key, md5 fingerprint) map-side so the full-outer join never
    shuffles payload (checks/diff.py:table_diff); the DuckDB oracle
    classifies by comparing the COLUMNS (IS NOT DISTINCT FROM), proving
    the fingerprint preserves semantic row equality incl. NULLs."""
    from cerberus_spark.checks.diff import table_diff

    ev = _t(spark, sf_dir, "events")
    v = F.round(F.col("value"), 3)
    old = ev.select("event_id", "event_type", v.alias("v"))
    new = (
        ev.filter(F.col("event_id") % 7 != 0)
        .select(
            "event_id",
            "event_type",
            F.when(F.col("event_id") % 5 == 0, v + 1).otherwise(v).alias("v"),
        )
        .unionByName(
            ev.filter(F.col("event_id") % 11 == 0).select(
                (F.col("event_id") + 10000000).alias("event_id"), "event_type", v.alias("v")
            )
        )
    )
    return table_diff(old, new, ["event_id"])


REGEX_ALT_RULES = {"tag": {"type": "string", "regex": "click|view"}}


def q_regex_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression guard for regex-rule anchoring: a top-level
    alternation pattern ('click|view') must be compiled as
    ^(?:click|view)$ — the naive '^'+pat+'$' parses as (^click)|(view$)
    and silently passes values like 'click-0'.  The derived tag column
    is event_type for every 5th user and event_type+'-'+bit otherwise,
    so both match and non-match arms carry data."""
    ev = _t(spark, sf_dir, "events")
    tag = F.when(
        F.pmod(F.col("user_id"), F.lit(5)) == 0, F.col("event_type")
    ).otherwise(
        F.concat(
            F.col("event_type"),
            F.lit("-"),
            F.pmod(F.col("user_id"), F.lit(2)).cast("string"),
        )
    )
    tagged = ev.select("event_id", tag.alias("tag"))
    res = validate(tagged, REGEX_ALT_RULES, key_cols=["event_id"])
    return res.violations().select("event_id", "field", "rule", "value")


VCHECK_RULES = {"tag": {"type": "string", "vcheck": "json_object"}}


def q_vcheck_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanctioned Arrow slow path under the oracle gate: a
    pandas_udf vcheck (json_object) validated against DuckDB's JSON
    functions.  The derived tag column mixes valid objects, truncated
    JSON, a non-object array, and NULLs so every branch fires."""
    ev = _t(spark, sf_dir, "events")
    m = F.pmod(F.col("user_id"), F.lit(4))
    tag = (
        F.when(m == 0, F.col("props"))
        .when(m == 1, F.substring(F.col("props"), 1, 5))
        .when(m == 2, F.lit("[1, 2]"))
        .otherwise(F.lit(None).cast("string"))
    )
    tagged = ev.select("event_id", tag.alias("tag"))
    res = validate(tagged, VCHECK_RULES, key_cols=["event_id"])
    return res.violations().select("event_id", "field", "rule", "value")


_SERVICE_CSV = f"{_os.path.dirname(_os.path.abspath(__file__))}/tests/fixtures/service_ports.csv"


def q_csv_dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/F7 analog: file-based dimension ingest (IANA-style service
    CSV: header skip, port-range-row skip, cast, uppercase, per-proto
    split — reference internal/databases/service.go:157-208) feeding a
    broadcast lookup-with-default enrichment (service.go:414-442)."""
    from cerberus_spark.sources.csv_dim import load_service_ports, service_lookup

    dim = load_service_ports(spark, _SERVICE_CSV)
    ev = _t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(100)).cast("int").alias("port")
    )
    enriched = service_lookup(ev, dim, "port", proto="TCP", default="UNKNOWN")
    return enriched.groupBy("service").agg(F.count(F.lit(1)).alias("n_events"))


# ---------------------------------------------------------------------------
# queries — dedup / similarity
# ---------------------------------------------------------------------------

def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(spread(_t(spark, sf_dir, "documents")), "text", "doc_id")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        spread(_t(spark, sf_dir, "documents")), "text", "doc_id", num_hashes=16, shingle_k=3
    )
    return sigs.select(
        "doc_id", F.posexplode("sig").alias("h_idx", "h_val")
    )


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        spread(_t(spark, sf_dir, "documents")), "text", "doc_id", num_hashes=16, shingle_k=3
    )
    return minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=4)


def q_minhash_candidates_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_dup_candidates with the band-bucket cap ON: buckets with
    more than bucket_cap members are dropped whole BEFORE pair
    generation, bounding every bucket's output at cap·(cap−1)/2 — the
    guard that keeps one degenerate band signature (boilerplate corpora)
    from going quadratic at 100 TB.  cap=2 bites at this SF (drops the
    size-3 buckets)."""
    sigs = minhash_signatures(
        spread(_t(spark, sf_dir, "documents")), "text", "doc_id", num_hashes=16, shingle_k=3
    )
    return minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=4, bucket_cap=2)


def q_simhash_candidates_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash_candidates with the band-bucket cap ON: band values held
    by more than bucket_cap signatures are anti-joined out of BOTH
    sides of the candidate equi-join before pair generation.  cap=4
    bites at this SF (drops buckets of size 5-8)."""
    from cerberus_spark.operators.dedup import simhash_candidates

    docs = spread(_t(spark, sf_dir, "documents"))
    return simhash_candidates(
        docs, "text", "doc_id", shingle_k=2, n_bits=60, bands=6, max_hamming=5,
        bucket_cap=4,
    )


def q_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dup candidates via winnowing fingerprints (MOSS
    scheme; char-gram rolling hashes -> sliding-window minima): any two
    docs sharing a verbatim run of >= g+w-1 chars are GUARANTEED to
    share a fingerprint.  md5 hash method here so DuckDB replays the
    fingerprints exactly; the engine path is the poly rolling hash
    (same winnowing, same guarantee — property-tested).  One shuffle on
    the fingerprint, capped buckets before pair explosion."""
    from cerberus_spark.operators.winnow import winnow_candidates, winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, "text", "doc_id", g=24, w=8, method="md5")
    return winnow_candidates(fps, "doc_id", bucket_cap=50)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(
        spread(_t(spark, sf_dir, "documents")), "text", "doc_id", k=3, threshold=0.4
    )
    return pairs.select("id_a", "id_b", F.round(F.col("jaccard"), 4).alias("jaccard"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized 60-bit simhash over word 2-shingles; docs with
    NULL text or under 2 words get 0 in both engines."""
    from cerberus_spark.operators.dedup import simhash_rows

    docs = spread(_t(spark, sf_dir, "documents"))
    return simhash_rows(docs, "text", "doc_id", shingle_k=2)


def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming-neighbor search over 60-bit simhashes: 6 bands of
    10 bits -> equi-join on (band_idx, band_bits) -> verify true
    hamming ≤ 5.  Exact recall at that radius by pigeonhole; the same
    one-shuffle bucket shape as MinHash LSH (never all-pairs)."""
    from cerberus_spark.operators.dedup import simhash_candidates

    docs = spread(_t(spark, sf_dir, "documents"))
    return simhash_candidates(
        docs, "text", "doc_id", shingle_k=2, n_bits=60, bands=6, max_hamming=5
    )


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram_jaccard with stop-shingle removal ON (df_cap): shingles in
    more than df_cap documents are dropped before the self-join, which
    bounds every join bucket at df_cap·(df_cap−1)/2 rows — the guard
    that keeps one hot boilerplate phrase from going quadratic at
    100 TB.  Jaccard is over the capped sets (sizes recomputed)."""
    pairs = ngram_jaccard_pairs(
        spread(_t(spark, sf_dir, "documents")),
        "text",
        "doc_id",
        k=3,
        threshold=0.2,
        df_cap=8,
    )
    return pairs.select("id_a", "id_b", F.round(F.col("jaccard"), 4).alias("jaccard"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline tail: MinHash+LSH candidate pairs ->
    connected components (iterative min-label propagation; per-round
    cost = one edge-keyed join + min agg, driver moves only change
    counts) -> cluster id/size/canonical-survivor flag.  Oracle:
    DuckDB recursive CTE computing the same closure."""
    from cerberus_spark.operators.graph import dedup_clusters

    sigs = minhash_signatures(
        spread(_t(spark, sf_dir, "documents")), "text", "doc_id", num_hashes=16, shingle_k=3
    )
    cand = minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=4)
    return dedup_clusters(cand)


def q_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup pipeline tail: winnowing fingerprint candidates
    -> connected components -> cluster id/size/survivor flag.  The
    char-level counterpart of q_dedup_clusters (word-shingle LSH);
    same min-label propagation, same recursive-CTE oracle shape."""
    from cerberus_spark.operators.graph import dedup_clusters
    from cerberus_spark.operators.winnow import winnow_candidates, winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, "text", "doc_id", g=24, w=8, method="md5")
    cand = winnow_candidates(fps, "doc_id", bucket_cap=50)
    return dedup_clusters(cand)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    # cosine_topk ranks on ROUNDED sim internally (same in the oracle)
    return cosine_topk(emb, queries_df, k=3).select(
        "query_id", "neighbor_id", "sim", "rk"
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >= 1 word
    3-shingle with a held-out eval split (5% of docs by key hash).
    Eval shingle set broadcasts (tiny by construction); the corpus side
    is exploded map-side and rolled up with ONE partial-agg'd shuffle."""
    from cerberus_spark.operators.decontam import contamination_report
    from cerberus_spark.operators.sample import _bucket_10k

    docs = spread(_t(spark, sf_dir, "documents"))
    bucket = _bucket_10k(F.col("doc_id"), "eval")
    ev = docs.filter(bucket < 500)
    train = docs.filter(bucket >= 500)
    return contamination_report(train, "text", "doc_id", ev, shingle_k=3)


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filters: duplicate-word,
    top-word, and duplicate-2-gram permille, served by the single-pass
    Arrow scan (functions/text.py:repetition_metrics).  NULL text gives
    a row of NULL metrics in both engines."""
    from cerberus_spark.functions.text import repetition_metrics

    docs = _t(spark, sf_dir, "documents")
    return repetition_metrics(docs, "text", "doc_id").select(
        "doc_id", "dup_word_milli", "top_word_milli", "dup_2gram_milli"
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixture rebalancing: deterministically downsample sources
    toward target corpus weights (scarcest-vs-target stratum kept at
    100%).  Per-stratum counts are an in-plan tiny aggregate joined
    back by broadcast; membership is a pure md5-bucket filter."""
    from cerberus_spark.operators.sample import resample_to_mixture

    docs = spread(_t(spark, sf_dir, "documents")).select("doc_id", "source")
    targets = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    return resample_to_mixture(docs, "doc_id", "source", targets)


def q_sequence_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-structure validation (transition grammar + first-state
    + ts monotonicity) over per-user event streams: every rule
    evaluated in ONE window pass (single shuffle keyed on user_id),
    rule names exploded from a conditional array."""
    from cerberus_spark.checks.sequence import sequence_violations

    ev = _t(spark, sf_dir, "events")
    out = sequence_violations(
        ev,
        "user_id",
        "event_type",
        "ts",
        ["ts", "event_id"],
        set(SEQ_ALLOWED),
        set(SEQ_ALLOWED_FIRST),
    )
    return out.select("user_id", "event_id", "event_type", "prev_state", "rule")


def q_lineitem_contiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-index density report (dense 1..n per order): one
    partial-agg'd groupBy shuffle keyed on the conversation analog —
    shuffle volume is |orders|, never |lineitems|."""
    from cerberus_spark.checks.sequence import contiguity_report

    li = _t(spark, sf_dir, "lineitem")
    return contiguity_report(li, "l_orderkey", "l_linenumber", start=1)


def q_normalize_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cerberus normalization phase (cerberus_spark/normalize.py):
    rename + default + coercer chain + purge_unknown compiled to ONE
    projection (zero shuffles) — validator.normalized() table-side.
    String coercers only in the pair: numeric try_cast rounding differs
    between engines (Spark truncates, DuckDB rounds) and is pytest-side."""
    from cerberus_spark.normalize import normalize_documents

    ev = _t(spark, sf_dir, "events")
    return normalize_documents(
        ev,
        {
            "event_type": {
                "rename": "etype",
                "default": "unknown",
                "coerce": "upper",
            },
            "props": {"coerce": "strip"},
        },
        keys=("event_id",),
        purge_unknown=True,
    )


def q_null_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null-rate drift pre/post DRIFT_SPLIT
    (checks/drift.py:null_rate_drift): completeness counterpart of the
    value-distribution drift family — one single-row aggregate per
    side, |cols| output rows, delta computed from ROUNDED rates so the
    subtraction is engine-exact.  SQL generated from the same column
    list."""
    from cerberus_spark.checks.drift import null_rate_drift

    ev = _t(spark, sf_dir, "events")
    return null_rate_drift(
        ev.filter(F.col("ts") < DRIFT_SPLIT),
        ev.filter(F.col("ts") >= DRIFT_SPLIT),
        NULL_DRIFT_COLS,
    )


def q_conversation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation health gate (checks/sequence.py:
    conversation_report): contiguity + grammar + monotonicity counts
    and a composite keep flag, one row per conversation — the
    transcript analog of the Gopher gate.  Index = the k prop
    (coalesced to -1 so NULLs exercise n_below_start identically in
    both engines); one window shuffle + one |convs| groupBy."""
    from cerberus_spark.checks.sequence import conversation_report

    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": ([0-9]+)', 1)
    ev = ev.withColumn(
        "k_idx",
        F.coalesce(F.when(k != "", k).cast("int"), F.lit(-1)),
    )
    return conversation_report(
        ev,
        "user_id",
        "k_idx",
        "event_type",
        "ts",
        ["ts", "event_id"],
        set(SEQ_ALLOWED),
        set(SEQ_ALLOWED_FIRST),
    )


def q_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequent-items summary per event_type (k=8 over
    user_id): lower-bound counts + undercount bound err — the
    re-aggregatable heavy-hitters state (rollup invariants are
    pytest-proven; this pair oracle-gates the construction).  State
    rendered as a deterministic string (lo desc, item desc)."""
    from cerberus_spark.checks.sketches import topk_group_sketches

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("item_str")
    )
    sk = topk_group_sketches(ev, ["event_type"], "item_str", k=8)
    return sk.select(
        "event_type",
        F.array_join(
            F.transform(
                F.col("state"),
                lambda x: F.concat_ws(":", x.getField("item"), x.getField("lo")),
            ),
            ",",
        ).alias("state_str"),
        "err",
    )


def q_reindex_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguity repair: dense 0..n-1 re-index per user in total
    (ts, event_id) order — row_number over one shuffled window."""
    from cerberus_spark.checks.sequence import reindex_turns

    ev = _t(spark, sf_dir, "events")
    return reindex_turns(ev, "user_id", ["ts", "event_id"]).select(
        "user_id", "event_id", "turn_idx_fixed"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the sf0.01 correctness gate covers the FIRST 50
    # entries; scripts/oracle_check.py verifies ALL entries locally.
    # WINDOW ROTATION (r6, 97 pairs): the first 50 hold (a) every pair
    # whose Spark side or oracle changed in round 6, then (b) the pairs
    # whose last gated round is oldest (r2, then r3, then the first
    # seven r4 pairs).  The tail is the other r4-gated pairs, then the
    # pairs the r5 window gated, all locally green.
    return {
        # (a) key_profile, the one pair for the A1-A7 per-key profile;
        # integer-cents money sums, and the gopher_gate thresholds that
        # give sf0.01 kept documents:
        "key_profile": q_key_profile,
        "interval_join_campaigns": q_interval_join,
        "stratified_sample": q_stratified_sample,
        "gopher_gate": q_gopher_gate,
        # (a) one implementation per document-text operator (Arrow
        # MinHash, SimHash, n-gram and repetition passes) and the
        # NULL-document and malformed-JSON oracle fixes:
        "doc_repetition": q_doc_repetition,
        "ngram_repetition": q_ngram_repetition,
        "validate_nested": q_validate_nested,
        "validate_extended": q_validate_extended,
        "minhash_signatures": q_minhash_signatures,
        "minhash_candidates": q_minhash_candidates,
        "minhash_candidates_capped": q_minhash_candidates_capped,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "simhash": q_simhash,
        "simhash_candidates": q_simhash_candidates,
        "simhash_candidates_capped": q_simhash_candidates_capped,
        "cluster_reps": q_cluster_reps,
        "dedup_clusters": q_dedup_clusters,
        "leak_safe_split": q_leak_safe_split,
        # (b) stalest-first:
        "salted_label_counts": q_salted_label_counts,
        "volume_anomaly": q_volume_anomaly,
        "cap_per_domain": q_cap_per_domain,
        "winsorize_value": q_winsorize_value,
        "windowed_drift": q_windowed_drift,
        "windowed_drift_value": q_windowed_drift_value,
        "boilerplate_words": q_boilerplate_words,
        "pii_redaction": q_pii_redaction,
        "unigram_nll": q_unigram_nll,
        "embedding_drift": q_embedding_drift,
        "outliers_zscore": q_outliers_zscore,
        "fd_violations": q_fd_violations,
        "snapshot_diff": q_snapshot_diff,
        "reindex_turns": q_reindex_turns,
        "topk_sketch": q_topk_sketch,
        "contamination": q_contamination,
        "mixture_resample": q_mixture_resample,
        "sketch_quantiles": q_sketch_quantiles,
        "regex_alternation": q_regex_alternation,
        "vcheck_json": q_vcheck_json,
        "csv_dim_lookup": q_csv_dim_lookup,
        "asof_enrich": q_asof_enrich,
        "hash_split": q_hash_split,
        "vocab_stats": q_vocab_stats,
        "cosine_topk": q_cosine_topk,
        "pack_documents": q_pack_documents,
        "lineitem_contiguity": q_lineitem_contiguity,
        "fuzzy_pairs": q_fuzzy_pairs,
        "embedding_neardup": q_embedding_neardup,
        "cosine_neardup_capped": q_cosine_neardup_capped,
        "normalize_nfc": q_normalize_nfc,
        # ---- tail: not gated this round, locally green ----
        "merge_intervals": q_merge_intervals,
        "ivf_topk_probes": q_ivf_topk_probes,
        "w1_drift": q_w1_drift,
        "normalize_phase": q_normalize_phase,
        "validate_events": q_validate_events,
        "validate_docs": q_validate_docs,
        "validation_summary": q_validation_summary,
        "classify_events": q_classify_events,
        "uniqueness_user_day": q_uniqueness_user_day,
        "referential_orphans": q_referential_orphans,
        "referential_lineitem_part": q_referential_lineitem_part,
        "column_profile_events": q_column_profile_events,
        "quantiles_doclen": q_quantiles_doclen,
        "drift_event_type": q_drift_event_type,
        "drift_value": q_drift_value,
        "first_occurrence": q_first_occurrence,
        "topk_per_user": q_topk_per_user,
        "sessionize": q_sessionize,
        "ivf_topk": q_ivf_topk,
        "stream_validate": q_stream_validate,
        "multimodal_features": q_multimodal_features,
        "doc_quality": q_doc_quality,
        "lang_id": q_lang_id,
        "doc_fingerprints": q_doc_fingerprints,
        "exact_dup_groups": q_exact_dup_groups,
        "conv_minhash": q_conv_minhash,
        "conv_neardup": q_conv_neardup,
        "conv_jaccard": q_conv_jaccard,
        "conv_clusters": q_conv_clusters,
        "transcript_clean_report": q_transcript_clean_report,
        "sequence_dups": q_sequence_dups,
        "null_rate_drift": q_null_rate_drift,
        "winnow_clusters": q_winnow_clusters,
        "sequence_violations": q_sequence_violations,
        "conversation_gate": q_conversation_gate,
        "bigram_nll": q_bigram_nll,
        "perplexity_buckets": q_perplexity_buckets,
        "winnow_candidates": q_winnow_candidates,
        "rule_suggestions": q_rule_suggestions,
        "outliers_mad": q_outliers_mad,
        "chi2_drift": q_chi2_drift,
        "ks_drift": q_ks_drift,
        "trim_budget": q_trim_budget,
        "equidepth_hist": q_equidepth_hist,
        "bloom_semi_join": q_bloom_semi_join,
        "embedding_norms": q_embedding_norms,
        "windowed_chi2": q_windowed_chi2,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect where ANSI is silent; views pre-registered)
# ---------------------------------------------------------------------------

_ALLOWED_SQL = ", ".join(f"'{t}'" for t in ALLOWED_EVENT_TYPES)

# normalized words / k-shingles of documents.text (must mirror
# cerberus_spark.operators.dedup.normalize_text and the Arrow passes'
# shingling, minhash_text_signature)
_WORDS = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"


def _shingles_sql(k: int) -> str:
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return (
        f"CASE WHEN len(w) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len(w) - {k - 2}), i -> {parts})) "
        f"ELSE [] END"
    )


_MD5_I64 = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def oracle_sql() -> dict[str, str]:
    drift_cat_sql = f"""
WITH b AS (
  SELECT event_type AS bin, count(*)::BIGINT AS bc FROM events
  WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), c AS (
  SELECT event_type AS bin, count(*)::BIGINT AS cc FROM events
  WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), j AS (
  SELECT coalesce(b.bin, c.bin) AS bin, coalesce(bc, 0) AS bc, coalesce(cc, 0) AS cc
  FROM b FULL OUTER JOIN c ON b.bin = c.bin
), t AS (SELECT sum(bc) AS bt, sum(cc) AS ct FROM j)
SELECT 'event_type' AS column_name,
       round(sum((cc/ct + 1e-9) * ln((cc/ct + 1e-9) / (bc/bt + 1e-9))), 6) AS kl,
       round(sum(((cc/ct + 1e-9) - (bc/bt + 1e-9)) * ln((cc/ct + 1e-9) / (bc/bt + 1e-9))), 6) AS psi
FROM j, t
"""
    windowed_drift_sql = f"""
WITH b AS (
  SELECT event_type AS bin, count(*)::BIGINT AS bc FROM events
  WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), c AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS ws, event_type AS bin, count(*)::BIGINT AS cc
  FROM events WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1, 2
), support AS (
  SELECT w.ws, b.bin, b.bc FROM (SELECT DISTINCT ws FROM c) w CROSS JOIN b
), j AS (
  SELECT coalesce(s.ws, c.ws) AS ws, coalesce(s.bin, c.bin) AS bin,
         coalesce(s.bc, 0) AS bc, coalesce(cc, 0) AS cc
  FROM support s FULL OUTER JOIN c ON s.ws = c.ws AND s.bin = c.bin
), t AS (SELECT ws, sum(bc) AS bt, sum(cc) AS ct FROM j GROUP BY 1)
SELECT j.ws AS window_start, j.ws + INTERVAL 1 DAY AS window_end,
       'event_type' AS column_name,
       round(sum((cc/bt_ct.ct + 1e-9) * ln((cc/bt_ct.ct + 1e-9) / (bc/bt_ct.bt + 1e-9))), 6) AS kl,
       round(sum(((cc/bt_ct.ct + 1e-9) - (bc/bt_ct.bt + 1e-9)) * ln((cc/bt_ct.ct + 1e-9) / (bc/bt_ct.bt + 1e-9))), 6) AS psi
FROM j JOIN t AS bt_ct ON j.ws = bt_ct.ws
GROUP BY 1, 2, 3
"""
    windowed_chi2_sql = f"""
WITH b AS (
  SELECT event_type AS bin, count(*)::BIGINT AS bc FROM events
  WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), c AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS ws, event_type AS bin, count(*)::BIGINT AS cc
  FROM events WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1, 2
), support AS (
  SELECT w.ws, b.bin, b.bc FROM (SELECT DISTINCT ws FROM c) w CROSS JOIN b
), j AS (
  SELECT coalesce(s.ws, c.ws) AS ws, coalesce(s.bin, c.bin) AS bin,
         coalesce(s.bc, 0) AS bc, coalesce(cc, 0) AS cc
  FROM support s FULL OUTER JOIN c ON s.ws = c.ws AND s.bin = c.bin
), t AS (SELECT ws, sum(cc) AS ct FROM j GROUP BY 1),
g AS (SELECT sum(bc) AS bt, count(*) AS n_bins_b FROM b)
SELECT j.ws AS window_start, j.ws + INTERVAL 1 DAY AS window_end,
       'event_type' AS column_name,
       round(sum(CASE WHEN bc > 0
             THEN (cc - t.ct * bc / g.bt) * (cc - t.ct * bc / g.bt) / (t.ct * bc / g.bt)
             ELSE 0 END), 6) AS chi2,
       round(sum(CASE WHEN bc > 0 AND cc > 0
             THEN 2.0 * cc * ln(cc / (t.ct * bc / g.bt)) ELSE 0 END), 6) AS g_stat,
       sum(CASE WHEN bc = 0 THEN cc ELSE 0 END)::BIGINT AS unseen_count,
       (max(g.n_bins_b) - 1)::BIGINT AS dof
FROM j JOIN t ON j.ws = t.ws CROSS JOIN g
GROUP BY 1, 2, 3
"""
    # PII redaction: same patterns, same order, counts on the
    # progressively-redacted text — SQL generated from PII_PATTERNS so
    # the two engines can never drift
    from cerberus_spark.functions.redact import PII_PATTERNS as _PII

    _steps, _prev = [], "t0"
    for _i, (_name, _pat) in enumerate(_PII, 1):
        _steps.append(
            f"s{_i} AS (SELECT *, len(regexp_extract_all({_prev}, '{_pat}'))::BIGINT AS n_{_name}, "
            f"regexp_replace({_prev}, '{_pat}', '<{_name.upper()}>', 'g') AS t{_i} FROM s{_i - 1})"
        )
        _prev = f"t{_i}"
    pii_sql = f"""
WITH s0 AS (
  SELECT event_id,
    'user u' || CAST(user_id AS VARCHAR) || '@example.com call 555-867-' ||
    lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') ||
    CASE WHEN event_id % 2 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END ||
    ' ip 10.0.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST(event_id % 256 AS VARCHAR) ||
    ' ssn 123-45-' || lpad(CAST(user_id % 10000 AS VARCHAR), 4, '0') AS t0
  FROM events
), {", ".join(_steps)}
SELECT event_id, {_prev} AS text, {", ".join(f"n_{n}" for n, _ in _PII)}
FROM s{len(_PII)}
"""
    bin_steps = " + ".join(
        f"CAST(value >= {e} AS INT)" for e in VALUE_EDGES[1:-1]
    )
    ks_drift_sql = f"""
WITH binned AS (
  SELECT {bin_steps} AS bin_idx, ts FROM events WHERE value IS NOT NULL
), b AS (
  SELECT bin_idx, count(*)::BIGINT AS bc FROM binned
  WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), c AS (
  SELECT bin_idx, count(*)::BIGINT AS cc FROM binned
  WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), j AS (
  SELECT coalesce(b.bin_idx, c.bin_idx) AS bin_idx,
         coalesce(bc, 0) AS bc, coalesce(cc, 0) AS cc
  FROM b FULL OUTER JOIN c ON b.bin_idx = c.bin_idx
), t AS (SELECT sum(bc) AS bt, sum(cc) AS ct FROM j), g AS (
  SELECT sum(bc) OVER (ORDER BY bin_idx ROWS UNBOUNDED PRECEDING) AS cum_b,
         sum(cc) OVER (ORDER BY bin_idx ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM j
)
SELECT 'value' AS column_name, round(max(abs(cum_b / bt - cum_c / ct)), 6) AS ks
FROM g, t
"""
    # same CTE chain as ks; each gap weighted by the index span to the
    # next present bin (CDFs constant over bins empty in both inputs)
    w1_drift_sql = ks_drift_sql.replace(
        """  SELECT sum(bc) OVER (ORDER BY bin_idx ROWS UNBOUNDED PRECEDING) AS cum_b,
         sum(cc) OVER (ORDER BY bin_idx ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM j""",
        """  SELECT sum(bc) OVER (ORDER BY bin_idx ROWS UNBOUNDED PRECEDING) AS cum_b,
         sum(cc) OVER (ORDER BY bin_idx ROWS UNBOUNDED PRECEDING) AS cum_c,
         coalesce(lead(bin_idx) OVER (ORDER BY bin_idx) - bin_idx, 1) AS span
  FROM j""",
    ).replace(
        "round(max(abs(cum_b / bt - cum_c / ct)), 6) AS ks",
        "round(sum(abs(cum_b / bt - cum_c / ct) * span) * 1.0, 6) AS w1",
    )
    assert "span" in w1_drift_sql and " AS w1" in w1_drift_sql
    windowed_drift_value_sql = f"""
WITH binned AS (
  SELECT 'bin_' || CAST({bin_steps} AS VARCHAR) AS bin, ts FROM events WHERE value IS NOT NULL
), b AS (
  SELECT bin, count(*)::BIGINT AS bc FROM binned WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), c AS (
  SELECT date_trunc('day', ts)::TIMESTAMP AS ws, bin, count(*)::BIGINT AS cc
  FROM binned WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1, 2
), support AS (
  SELECT w.ws, b.bin, b.bc FROM (SELECT DISTINCT ws FROM c) w CROSS JOIN b
), j AS (
  SELECT coalesce(s.ws, c.ws) AS ws, coalesce(s.bin, c.bin) AS bin,
         coalesce(s.bc, 0) AS bc, coalesce(cc, 0) AS cc
  FROM support s FULL OUTER JOIN c ON s.ws = c.ws AND s.bin = c.bin
), t AS (SELECT ws, sum(bc) AS bt, sum(cc) AS ct FROM j GROUP BY 1)
SELECT j.ws AS window_start, j.ws + INTERVAL 1 DAY AS window_end,
       'value' AS column_name,
       round(sum((cc/bt_ct.ct + 1e-9) * ln((cc/bt_ct.ct + 1e-9) / (bc/bt_ct.bt + 1e-9))), 6) AS kl,
       round(sum(((cc/bt_ct.ct + 1e-9) - (bc/bt_ct.bt + 1e-9)) * ln((cc/bt_ct.ct + 1e-9) / (bc/bt_ct.bt + 1e-9))), 6) AS psi
FROM j JOIN t AS bt_ct ON j.ws = bt_ct.ws
GROUP BY 1, 2, 3
"""
    drift_num_sql = f"""
WITH binned AS (
  SELECT 'bin_' || CAST({bin_steps} AS VARCHAR) AS bin, ts FROM events WHERE value IS NOT NULL
), b AS (
  SELECT bin, count(*)::BIGINT AS bc FROM binned WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), c AS (
  SELECT bin, count(*)::BIGINT AS cc FROM binned WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), j AS (
  SELECT coalesce(b.bin, c.bin) AS bin, coalesce(bc, 0) AS bc, coalesce(cc, 0) AS cc
  FROM b FULL OUTER JOIN c ON b.bin = c.bin
), t AS (SELECT sum(bc) AS bt, sum(cc) AS ct FROM j)
SELECT 'value' AS column_name,
       round(sum((cc/ct + 1e-9) * ln((cc/ct + 1e-9) / (bc/bt + 1e-9))), 6) AS kl,
       round(sum(((cc/ct + 1e-9) - (bc/bt + 1e-9)) * ln((cc/ct + 1e-9) / (bc/bt + 1e-9))), 6) AS psi
FROM j, t
"""
    sh3 = _shingles_sql(3)
    sh2 = _shingles_sql(2)
    # universal-hash MinHash: one md5 per shingle, then (a_j·h+b_j) mod P
    # with the SAME coefficients as cerberus_spark.operators.dedup
    from cerberus_spark.operators.dedup import MINHASH_P, minhash_coeffs

    coeff_values = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(minhash_coeffs(16)))
    h_base = _MD5_I64.format(expr="s") + f" % {MINHASH_P}"
    h_j = f"(c.a * ({h_base}) + c.b) % {MINHASH_P}"
    minhash_sig_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh3.replace('w', f'({_WORDS})')} AS sh FROM documents
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM docs WHERE len(sh) > 0
)
SELECT e.doc_id, CAST(c.j AS INT) AS h_idx, min({h_j})::BIGINT AS h_val
FROM ex e CROSS JOIN (VALUES {coeff_values}) c(j, a, b)
GROUP BY e.doc_id, c.j
"""
    minhash_cand_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh3.replace('w', f'({_WORDS})')} AS sh FROM documents
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM docs WHERE len(sh) > 0
), sig AS (
  SELECT e.doc_id, c.j AS h_idx, min({h_j})::BIGINT AS h_val
  FROM ex e CROSS JOIN (VALUES {coeff_values}) c(j, a, b)
  GROUP BY e.doc_id, c.j
), band AS (
  SELECT doc_id, h_idx // 4 AS band_idx,
         string_agg(CAST(h_val AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
  FROM sig GROUP BY doc_id, h_idx // 4
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_bands_shared
FROM band a JOIN band b
  ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""
    minhash_cand_capped_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh3.replace('w', f'({_WORDS})')} AS sh FROM documents
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM docs WHERE len(sh) > 0
), sig AS (
  SELECT e.doc_id, c.j AS h_idx, min({h_j})::BIGINT AS h_val
  FROM ex e CROSS JOIN (VALUES {coeff_values}) c(j, a, b)
  GROUP BY e.doc_id, c.j
), band AS (
  SELECT doc_id, h_idx // 4 AS band_idx,
         string_agg(CAST(h_val AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
  FROM sig GROUP BY doc_id, h_idx // 4
), kept AS (
  -- bucket cap: drop whole buckets with more than 2 members
  SELECT doc_id, band_idx, band_sig FROM (
    SELECT band.*, count(*) OVER (PARTITION BY band_idx, band_sig) AS _n FROM band
  ) WHERE _n <= 2
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_bands_shared
FROM kept a JOIN kept b
  ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""
    jaccard_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh3.replace('w', f'({_WORDS})')} AS sh FROM documents
), sized AS (
  SELECT doc_id, len(sh) AS n_sh, sh FROM docs WHERE len(sh) > 0
), ex0 AS (
  SELECT doc_id, n_sh, unnest(sh) AS s FROM sized
), ex AS (
  -- join on the 63-bit md5 of the shingle, mirroring the Spark plan
  SELECT doc_id, n_sh, {_MD5_I64.format(expr="s")} AS s FROM ex0
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*)::BIGINT AS n_shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(n_shared::DOUBLE / (n_a + n_b - n_shared), 4) AS jaccard
FROM shared
WHERE n_shared::DOUBLE / (n_a + n_b - n_shared) >= 0.4
"""
    h_plain = _MD5_I64.format(expr="s")
    simhash_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh2.replace('w', f'({_WORDS})')} AS sh FROM documents
), hx AS (
  SELECT doc_id, {h_plain} AS h FROM (SELECT doc_id, unnest(sh) AS s FROM docs)
), bitsum AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM hx CROSS JOIN range(60) r(b)
  GROUP BY doc_id, b
), folded AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)::BIGINT AS simhash
  FROM bitsum GROUP BY doc_id
)
SELECT d.doc_id, coalesce(f.simhash, 0)::BIGINT AS simhash
FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id
"""
    simhash_cand_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh2.replace('w', f'({_WORDS})')} AS sh FROM documents
  WHERE len({_WORDS}) >= 2
), hx AS (
  SELECT doc_id, {_MD5_I64.format(expr="s")} AS h
  FROM (SELECT doc_id, unnest(sh) AS s FROM docs)
), bitsum AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM hx CROSS JOIN range(60) r(b)
  GROUP BY doc_id, b
), folded AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)::BIGINT AS simhash
  FROM bitsum GROUP BY doc_id
), sigs AS (
  SELECT d.doc_id AS id, coalesce(f.simhash, 0)::BIGINT AS sh
  FROM docs d LEFT JOIN folded f ON d.doc_id = f.doc_id
), ex AS (
  SELECT id, sh, b AS band_idx, (sh >> CAST(10 * b AS INT)) & 1023 AS band_bits
  FROM sigs CROSS JOIN range(6) r(b)
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(min(bit_count(xor(a.sh, b.sh))) AS INT) AS hamming
  FROM ex a JOIN ex b
    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits AND a.id < b.id
  GROUP BY 1, 2
) WHERE hamming <= 5
"""
    simhash_cand_capped_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh2.replace('w', f'({_WORDS})')} AS sh FROM documents
  WHERE len({_WORDS}) >= 2
), hx AS (
  SELECT doc_id, {_MD5_I64.format(expr="s")} AS h
  FROM (SELECT doc_id, unnest(sh) AS s FROM docs)
), bitsum AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
  FROM hx CROSS JOIN range(60) r(b)
  GROUP BY doc_id, b
), folded AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)::BIGINT AS simhash
  FROM bitsum GROUP BY doc_id
), sigs AS (
  SELECT d.doc_id AS id, coalesce(f.simhash, 0)::BIGINT AS sh
  FROM docs d LEFT JOIN folded f ON d.doc_id = f.doc_id
), ex0 AS (
  SELECT id, sh, b AS band_idx, (sh >> CAST(10 * b AS INT)) & 1023 AS band_bits
  FROM sigs CROSS JOIN range(6) r(b)
), ex AS (
  -- bucket cap: drop band values held by more than 4 signatures
  SELECT id, sh, band_idx, band_bits FROM (
    SELECT ex0.*, count(*) OVER (PARTITION BY band_idx, band_bits) AS _n FROM ex0
  ) WHERE _n <= 4
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(min(bit_count(xor(a.sh, b.sh))) AS INT) AS hamming
  FROM ex a JOIN ex b
    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits AND a.id < b.id
  GROUP BY 1, 2
) WHERE hamming <= 5
"""
    # winnowing fingerprints (g=24-char grams, w=8 windows): md5_i64 per
    # gram, sliding-window minima (full windows only; <w grams -> single
    # global min, mirroring _winnow_values), distinct values per doc,
    # then the capped-bucket pair join (cap 50).
    winnow_sql = f"""
WITH grams AS (
  SELECT doc_id, i,
         {_MD5_I64.format(expr="substr(text, CAST(i AS INT), 24)")} AS h,
         len(text) - 24 + 1 AS ng
  FROM documents CROSS JOIN UNNEST(range(1, len(text) - 24 + 2)) AS t(i)
  WHERE len(text) >= 24
), wins AS (
  SELECT doc_id, i, ng,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, m AS fp FROM wins WHERE i <= greatest(ng - 7, 1)
), buckets AS (
  SELECT fp, list(doc_id ORDER BY doc_id) AS ids
  FROM fps GROUP BY fp HAVING len(list(doc_id)) BETWEEN 2 AND 50
), pairs AS (
  SELECT ids[CAST(a AS INT)] AS id_a, ids[CAST(b AS INT)] AS id_b
  FROM buckets
  CROSS JOIN UNNEST(range(1, len(ids) + 1)) AS ta(a)
  CROSS JOIN UNNEST(range(1, len(ids) + 1)) AS tb(b)
  WHERE a < b
)
SELECT id_a, id_b, count(*)::BIGINT AS n_shared_fp FROM pairs GROUP BY 1, 2
"""
    # constraint suggestion: one UNION-ALL block per (column, rule)
    # mirroring checks/suggest.py's gating (min/max only when a non-null
    # value exists; allowed only for string cols with 1..16 distinct;
    # length envelope only when a non-null string exists).  Generated
    # from one spec so the engines cannot drift.
    def _suggest_sql() -> str:
        cols = [("event_id", "bigint"), ("ts", "timestamp"),
                ("user_id", "bigint"), ("event_type", "string"),
                ("value", "double"), ("props", "string")]
        fmt = {
            "bigint": "CAST({a}({c}) AS VARCHAR)",
            "double": "printf('%.6f', {a}({c}))",
            "timestamp": "strftime({a}({c}), '%Y-%m-%d %H:%M:%S')",
        }
        parts = []
        for c, t in cols:
            parts.append(
                f"SELECT '{c}' AS field, 'nullable' AS rule, CASE WHEN "
                f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) > 0 "
                f"THEN 'true' ELSE 'false' END AS value FROM events HAVING count(*) > 0"
            )
            if t == "string":
                parts.append(
                    f"SELECT '{c}', 'allowed', string_agg(DISTINCT {c}, '|' ORDER BY {c}) "
                    f"FROM events HAVING count(DISTINCT {c}) BETWEEN 1 AND 16"
                )
                for r, a in (("minlength", "min"), ("maxlength", "max")):
                    parts.append(
                        f"SELECT '{c}', '{r}', CAST({a}(len({c})) AS VARCHAR) "
                        f"FROM events HAVING min(len({c})) IS NOT NULL"
                    )
            else:
                for r, a in (("min", "min"), ("max", "max")):
                    parts.append(
                        f"SELECT '{c}', '{r}', {fmt[t].format(a=a, c=c)} "
                        f"FROM events HAVING min({c}) IS NOT NULL"
                    )
        return "\nUNION ALL\n".join(parts)

    jaccard_capped_sql = f"""
WITH docs AS (
  SELECT doc_id, {sh3.replace('w', f'({_WORDS})')} AS sh FROM documents
), exh AS (
  SELECT doc_id, {_MD5_I64.format(expr="s")} AS s
  FROM (SELECT doc_id, unnest(sh) AS s FROM docs WHERE len(sh) > 0)
), hot AS (
  SELECT s FROM exh GROUP BY s HAVING count(*) > 8
), kept AS (
  SELECT doc_id, s FROM exh WHERE s NOT IN (SELECT s FROM hot)
), sizes AS (
  SELECT doc_id, count(*)::INT AS n_sh FROM kept GROUP BY doc_id
), ex AS (
  SELECT k.doc_id, z.n_sh, k.s FROM kept k JOIN sizes z USING (doc_id)
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         count(*)::BIGINT AS n_shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       round(n_shared::DOUBLE / (n_a + n_b - n_shared), 4) AS jaccard
FROM shared
WHERE n_shared::DOUBLE / (n_a + n_b - n_shared) >= 0.2
"""
    multimodal_sql = """
WITH m AS (
  SELECT media_id, sha256('payload-' || md5(CAST(media_id AS VARCHAR))) AS hx
  FROM range(0, 512) t(media_id)
)
SELECT media_id,
       CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       40::BIGINT AS n_bytes,
       array_to_string(
         list_transform(range(0, 16),
           j -> CAST(('0x' || substr(hx, 4*j + 3, 2) || substr(hx, 4*j + 1, 2)) AS INT)),
         ',') AS features_u16
FROM m
"""
    csv_dim_sql = f"""
WITH dim0 AS (
  SELECT upper(trim("Service Name")) AS service,
         trim("Port Number") AS port_s,
         upper(trim("Transport Protocol")) AS proto
  FROM read_csv('{_SERVICE_CSV}', header=true, all_varchar=true)
), dim1 AS (
  SELECT TRY_CAST(port_s AS INT) AS port, proto, service FROM dim0
  WHERE service IS NOT NULL AND service <> ''
    AND port_s IS NOT NULL AND port_s NOT LIKE '%-%'
), dim AS (
  SELECT port, proto, min(service) AS service
  FROM dim1 WHERE port BETWEEN 1 AND 65535 GROUP BY port, proto
)
SELECT coalesce(d.service, 'UNKNOWN') AS service, count(*)::BIGINT AS n_events
FROM (SELECT CAST(user_id % 100 AS INT) AS port FROM events) e
LEFT JOIN (SELECT port, service FROM dim WHERE proto = 'TCP') d ON e.port = d.port
GROUP BY 1
"""
    cosine_sql = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, c.embedding) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS sim
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, sim, rk FROM ranked WHERE rk <= 3
"""
    # quality-score pieces (mirror cerberus_spark.functions.text)
    n_tok_ws = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"
    sw_pat = "\\b(the|a|of|and|to|in|is|that|it|for)\\b"
    sw_hits = f"len(regexp_extract_all(lower(text), '{sw_pat}'))"
    # exact integer quality score (see quality_score_milli): pure
    # integer floor-div arithmetic — no float rounding divergence
    n_chars_sql = "length(text)::BIGINT"
    punct_cnt = "len(regexp_extract_all(text, '[^\\w\\s]'))::BIGINT"
    quality = (
        f"((CASE WHEN {n_chars_sql} BETWEEN 20 AND 20000 THEN 400 ELSE 0 END)::BIGINT"
        f" + (CASE WHEN {n_chars_sql} = 0 THEN 300 ELSE"
        f"     (600 * ({n_chars_sql} - {punct_cnt}) + {n_chars_sql}) // (2 * {n_chars_sql}) END)::BIGINT"
        f" + (CASE WHEN ({n_tok_ws}) = 0 THEN 0 ELSE"
        f"     (600 * least(5 * ({sw_hits})::BIGINT, ({n_tok_ws})::BIGINT) + ({n_tok_ws})) // (2 * ({n_tok_ws})) END)::BIGINT"
        f")::BIGINT"
    )
    lang_hits = {
        "en": "len(regexp_extract_all(lower(text), '\\b(the|and|of|is)\\b'))",
        "de": "len(regexp_extract_all(lower(text), '\\b(der|die|und|ist)\\b'))",
        "fr": "len(regexp_extract_all(lower(text), '\\b(le|la|et|est)\\b'))",
        "es": "len(regexp_extract_all(lower(text), '\\b(el|los|que|es)\\b'))",
    }
    langs = list(lang_hits)
    arms = []
    for lang in langs:
        conds = [f"({lang_hits[lang]}) > 0"] + [
            f"({lang_hits[lang]}) >= ({lang_hits[o]})" for o in langs if o != lang
        ]
        arms.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    lang_case = "CASE " + " ".join(arms) + " ELSE 'und' END"

    out = {
        "sketch_quantiles": """
WITH binned AS (
  SELECT event_type,
         CASE WHEN value < 0 THEN 0 WHEN value >= 500 THEN 101
              ELSE CAST(floor(value / 5.0) AS INT) + 1 END AS bin
  FROM events WHERE value IS NOT NULL
), counts AS (
  SELECT event_type, bin, count(*)::BIGINT AS cnt FROM binned GROUP BY 1, 2
), tot AS (
  SELECT event_type, sum(cnt)::BIGINT AS n_values FROM counts GROUP BY 1
), cum AS (
  SELECT event_type, bin, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM counts
), hit AS (
  SELECT c.event_type, q.p, c.bin, c.cnt, c.cum, t.n_values,
         greatest(CAST(ceil(q.p * t.n_values) AS BIGINT), 1) AS target
  FROM cum c
  JOIN tot t USING (event_type)
  CROSS JOIN (SELECT unnest([0.5, 0.9]) AS p) q
  WHERE c.cum >= greatest(CAST(ceil(q.p * t.n_values) AS BIGINT), 1)
  QUALIFY row_number() OVER (PARTITION BY c.event_type, q.p ORDER BY c.bin) = 1
), vals AS (
  SELECT event_type, p, n_values,
         CASE WHEN bin = 0 THEN 0.0 WHEN bin = 101 THEN 500.0
              ELSE ((bin - 1) + (target - (cum - cnt))::DOUBLE / cnt) * 5.0
         END AS v
  FROM hit
)
SELECT event_type, max(n_values)::BIGINT AS n_values,
       round(max(CASE WHEN p = 0.5 THEN v END), 4) AS q50,
       round(max(CASE WHEN p = 0.9 THEN v END), 4) AS q90
FROM vals GROUP BY event_type
""",
        "validate_extended": """
WITH base AS (
  SELECT event_id,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS INT) END AS k,
         props IS NOT NULL AS has_pm,
         (user_id % 2 = 0) AS has_beta,
         CAST(user_id % 100 AS INT) AS vnum
  FROM events
)
SELECT event_id, 'pm' AS field, 'valuesrules.min' AS rule FROM base WHERE has_pm AND k < 10
UNION ALL
SELECT event_id, 'tags', 'contains' FROM base WHERE NOT has_beta
UNION ALL
SELECT event_id, 'vnum', 'allof' FROM base WHERE vnum < 10 OR vnum > 89
UNION ALL
SELECT event_id, 'vnum', 'noneof' FROM base WHERE vnum IN (13, 17)
""",
        "validate_nested": """
-- p_present mirrors Spark's p = CASE WHEN event_type <> 'purchase'
-- THEN from_json(props) END exactly: from_json returns NULL only for
-- NULL input (malformed JSON yields a struct of NULL fields — probed
-- on this Spark version), so p is NULL — and the TOP-LEVEL required
-- rule fires, suppressing the nested p.k rules — when event_type is
-- NULL/'purchase' OR props is NULL.  Without the props IS NOT NULL
-- conjunct a NULL-props row would diverge: Spark ('p','required')
-- vs oracle ('p.k','required').
WITH base AS (
  SELECT event_id,
         CASE WHEN event_type <> 'purchase' AND props IS NOT NULL
              THEN 1 ELSE 0 END AS p_present,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS INT) END AS k
  FROM events
)
SELECT event_id, 'p' AS field, 'required' AS rule, NULL::VARCHAR AS value
  FROM base WHERE p_present = 0
UNION ALL
SELECT event_id, 'p.k', 'required', NULL
  FROM base WHERE p_present = 1 AND k IS NULL
UNION ALL
SELECT event_id, 'p.k', 'min', CAST(k AS VARCHAR)
  FROM base WHERE p_present = 1 AND k < 5
UNION ALL
SELECT event_id, 'p.k', 'max', CAST(k AS VARCHAR)
  FROM base WHERE p_present = 1 AND k > 90
UNION ALL
SELECT event_id, 'tags', 'items.max', CAST([k, k + 5] AS VARCHAR)
  FROM base WHERE k + 5 > 94
UNION ALL
SELECT event_id, 'x', 'oneof', CAST(k AS VARCHAR)
  FROM base
 WHERE k IS NOT NULL
   AND (CAST(k BETWEEN 10 AND 80 AS INT) + CAST(k IN (50, 95) AS INT)) <> 1
""",
        "validate_events": f"""
SELECT event_id, 'event_type' AS field, 'required' AS rule, CAST(event_type AS VARCHAR) AS value
  FROM events WHERE event_type IS NULL
UNION ALL
SELECT event_id, 'event_type', 'allowed', CAST(event_type AS VARCHAR)
  FROM events WHERE event_type IS NOT NULL AND event_type NOT IN ({_ALLOWED_SQL})
UNION ALL
SELECT event_id, 'value', 'min', CAST(value AS VARCHAR)
  FROM events WHERE value IS NOT NULL AND value < {VALUE_MIN}
UNION ALL
SELECT event_id, 'value', 'max', CAST(value AS VARCHAR)
  FROM events WHERE value IS NOT NULL AND value > {VALUE_MAX}
UNION ALL
SELECT event_id, 'props', 'regex', CAST(props AS VARCHAR)
  FROM events WHERE props IS NOT NULL AND NOT regexp_full_match(props, '\\{{"k": [0-9]{{2}}\\}}')
UNION ALL
SELECT event_id, 'ts', 'required', CAST(ts AS VARCHAR)
  FROM events WHERE ts IS NULL
""",
        "validation_summary": f"""
WITH v AS (
  SELECT 'event_type' AS field, 'required' AS rule FROM events WHERE event_type IS NULL
  UNION ALL
  SELECT 'event_type', 'allowed' FROM events
   WHERE event_type IS NOT NULL AND event_type NOT IN ({_ALLOWED_SQL})
  UNION ALL
  SELECT 'value', 'min' FROM events WHERE value IS NOT NULL AND value < {VALUE_MIN}
  UNION ALL
  SELECT 'value', 'max' FROM events WHERE value IS NOT NULL AND value > {VALUE_MAX}
  UNION ALL
  SELECT 'props', 'regex' FROM events
   WHERE props IS NOT NULL AND NOT regexp_full_match(props, '\\{{"k": [0-9]{{2}}\\}}')
  UNION ALL
  SELECT 'ts', 'required' FROM events WHERE ts IS NULL
)
SELECT field, rule, count(*)::BIGINT AS n_violations FROM v GROUP BY field, rule
""",
        "classify_events": """
SELECT event_id,
  CASE WHEN event_type = 'purchase' AND value > 100.0 THEN 'BIG_PURCHASE'
       WHEN event_type = 'purchase' THEN 'PURCHASE'
       WHEN event_type = 'error' THEN 'ERROR'
       WHEN event_type IN ('click','view') AND value < 1.0 THEN 'LOW_ENGAGEMENT'
       WHEN event_type = 'click' THEN 'CLICK'
       WHEN event_type = 'view' THEN 'VIEW'
       WHEN event_type = 'signup' THEN 'SIGNUP'
       ELSE 'CUSTOM' END AS label
FROM events
""",
        "uniqueness_user_day": """
SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, count(*)::BIGINT AS n_dup
FROM events GROUP BY 1, 2 HAVING count(*) > 1
""",
        "referential_orphans": f"""
SELECT event_id, event_type FROM events
WHERE event_type IS NOT NULL AND event_type NOT IN ({_ALLOWED_SQL})
""",
        "referential_lineitem_part": """
SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem l
WHERE l_partkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
""",
        "column_profile_events": """
SELECT 'event_type' AS column_name, count(*)::BIGINT AS n_rows,
       sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       count(DISTINCT event_type)::BIGINT AS n_distinct,
       CAST(min(event_type) AS VARCHAR) AS min_value, CAST(max(event_type) AS VARCHAR) AS max_value
FROM events
UNION ALL
SELECT 'user_id', count(*)::BIGINT, sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT user_id)::BIGINT, CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM events
UNION ALL
SELECT 'value', count(*)::BIGINT, sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT value)::BIGINT, CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
FROM events
UNION ALL
SELECT 'props', count(*)::BIGINT, sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT,
       count(DISTINCT props)::BIGINT, CAST(min(props) AS VARCHAR), CAST(max(props) AS VARCHAR)
FROM events
""",
        "quantiles_doclen": """
SELECT 'n_chars' AS column_name, CAST(p AS DOUBLE) AS p, round(CAST(q AS DOUBLE), 4) AS value
FROM (
  SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS p,
         unnest(quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.95])) AS q
  FROM documents
)
""",
        "drift_event_type": drift_cat_sql,
        "drift_value": drift_num_sql,
        "windowed_drift": windowed_drift_sql,
        "windowed_drift_value": windowed_drift_value_sql,
        "pii_redaction": pii_sql,
        "outliers_zscore": """
WITH s AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sig
  FROM events GROUP BY 1
)
SELECT event_id, event_type, round(value, 6) AS value,
       round((value - mu) / sig, 6) AS zscore
FROM events JOIN s USING (event_type)
WHERE sig > 0 AND abs(round((value - mu) / sig, 6)) > 3.0
""",
        "outliers_mad": """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m), 0.5) AS d
  FROM events e JOIN med USING (event_type) GROUP BY 1
)
SELECT event_id, event_type, round(value, 6) AS value,
       round(0.6745 * (value - m) / d, 6) AS mad_z
FROM events JOIN med USING (event_type) JOIN mad USING (event_type)
WHERE d > 0 AND abs(round(0.6745 * (value - m) / d, 6)) > 3.5
""",
        "ks_drift": ks_drift_sql,
        "w1_drift": w1_drift_sql,
        "windowed_chi2": windowed_chi2_sql,
        "fuzzy_pairs": """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       a.s_name AS key_a, b.s_name AS key_b,
       levenshtein(a.s_name, b.s_name)::INT AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
""",
        "cap_per_domain": f"""
SELECT doc_id, source, group_rank FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_MD5_I64.format(expr="CAST(doc_id AS VARCHAR) || '|cap'")}, doc_id
         ) AS group_rank
  FROM documents
) WHERE group_rank <= 10
""",
        "winsorize_value": """
WITH q AS (
  SELECT event_type, quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
)
SELECT event_id, event_type, round(value, 6) AS value,
       round(CASE WHEN value IS NULL THEN NULL
                  ELSE least(greatest(value, lo), hi) END, 6) AS value_w
FROM events LEFT JOIN q USING (event_type)
""",
        "volume_anomaly": """
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, count(*)::BIGINT AS n_events
  FROM events GROUP BY 1
), t AS (
  SELECT ws, n_events,
         avg(n_events) OVER (ORDER BY ws ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS tm,
         count(n_events) OVER (ORDER BY ws ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING) AS nt
  FROM counts
)
SELECT ws AS window_start, n_events, round(tm, 6) AS trailing_mean,
       round(n_events / tm, 6) AS ratio,
       (round(n_events / tm, 6) < 0.5 OR round(n_events / tm, 6) > 2.0) AS anomaly
FROM t WHERE nt = 6
""",
        "equidepth_hist": f"""
WITH q AS (
  SELECT list_sort(list_distinct(list_transform(
           quantile_cont(value, {[i / 8 for i in range(9)]}), x -> round(x, 6)))) AS e
  FROM events WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' AND value IS NOT NULL
)
SELECT 'bin_' || CAST(len(list_filter(e[2:-2], t -> value >= t)) AS VARCHAR) AS bin,
       count(*)::BIGINT AS count
FROM events, q
WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' AND value IS NOT NULL
GROUP BY 1
""",
        "trim_budget": """
SELECT user_id, event_id, n_tokens, cum_tokens FROM (
  SELECT user_id, event_id,
         len(coalesce(props, ''))::BIGINT AS n_tokens,
         (sum(len(coalesce(props, ''))) OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
  FROM events
) WHERE cum_tokens <= 400
""",
        "chi2_drift": f"""
WITH b AS (
  SELECT event_type AS bin, count(*)::BIGINT AS bc FROM events
  WHERE ts < TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), c AS (
  SELECT event_type AS bin, count(*)::BIGINT AS cc FROM events
  WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}' GROUP BY 1
), j AS (
  SELECT coalesce(b.bin, c.bin) AS bin, coalesce(bc, 0) AS bc, coalesce(cc, 0) AS cc
  FROM b FULL OUTER JOIN c ON b.bin = c.bin
), t AS (
  SELECT sum(bc) AS bt, sum(cc) AS ct,
         sum(CASE WHEN bc > 0 THEN 1 ELSE 0 END) AS n_bins_b
  FROM j
)
SELECT 'event_type' AS column_name,
       round(sum(CASE WHEN ct * bc / bt > 0
                 THEN (cc - ct * bc / bt) * (cc - ct * bc / bt) / (ct * bc / bt)
                 ELSE 0 END), 6) AS chi2,
       round(sum(CASE WHEN ct * bc / bt > 0 AND cc > 0
                 THEN 2.0 * cc * ln(cc / (ct * bc / bt)) ELSE 0 END), 6) AS g_stat,
       sum(CASE WHEN ct * bc / bt = 0 THEN cc ELSE 0 END)::BIGINT AS unseen_count,
       (max(n_bins_b) - 1)::BIGINT AS dof
FROM j, t
""",
        "fd_violations": """
SELECT user_id, count(DISTINCT event_type)::BIGINT AS n_dependent,
       array_to_string(list_slice(list_sort(list(DISTINCT event_type::VARCHAR)), 1, 3), ',') AS examples
FROM events GROUP BY user_id HAVING count(DISTINCT event_type) > 1
""",
        "snapshot_diff": """
WITH old AS (
  SELECT event_id, event_type, round(value, 3) AS v FROM events
), new AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 5 = 0 THEN round(value, 3) + 1 ELSE round(value, 3) END AS v
  FROM events WHERE event_id % 7 <> 0
  UNION ALL
  SELECT event_id + 10000000, event_type, round(value, 3) FROM events WHERE event_id % 11 = 0
)
SELECT coalesce(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'added'
            WHEN n.event_id IS NULL THEN 'removed'
            WHEN o.event_type IS NOT DISTINCT FROM n.event_type
                 AND o.v IS NOT DISTINCT FROM n.v THEN 'unchanged'
            ELSE 'changed' END AS change
FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
""",
        "embedding_drift": """
WITH idx AS (
  SELECT vec_id, embedding,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings
), dims AS (
  SELECT (vec_id % 2 = 1) AS is_cur, pos, embedding[pos]::DOUBLE AS val FROM idx
), per_dim AS (
  SELECT pos,
         avg(CASE WHEN is_cur THEN val END) AS c,
         avg(CASE WHEN NOT is_cur THEN val END) AS b,
         sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS nc,
         sum(CASE WHEN NOT is_cur THEN 1 ELSE 0 END) AS nb
  FROM dims GROUP BY pos
)
SELECT max(nb)::BIGINT AS n_base, max(nc)::BIGINT AS n_cur,
       round(sum(c * b) / sqrt(sum(c * c)) / sqrt(sum(b * b)), 6) AS centroid_cosine,
       round(sqrt(sum((c - b) * (c - b))), 6) AS centroid_l2
FROM per_dim
""",
        "unigram_nll": f"""
WITH ww AS (
  SELECT doc_id, unnest({_WORDS}) AS w FROM documents
), nz AS (SELECT * FROM ww WHERE w <> ''),
c AS (SELECT w, count(*)::BIGINT AS cnt FROM nz GROUP BY 1),
t AS (SELECT sum(cnt) AS total FROM c),
v AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w ASC LIMIT 20),
s AS (
  SELECT nz.doc_id,
         CASE WHEN v.w IS NOT NULL THEN ln(v.cnt / t.total)
              ELSE ln(1.0 / t.total) END AS logp
  FROM nz LEFT JOIN v USING (w) CROSS JOIN t
)
SELECT doc_id, round(-avg(logp), 6) AS unigram_nll, count(*)::BIGINT AS n_tokens
FROM s GROUP BY 1
""",
        "bigram_nll": f"""
WITH ww AS (
  SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS arr FROM documents
),
bp AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(arr)), i -> arr[i])) AS p,
         unnest(list_transform(range(1, len(arr)), i -> arr[i + 1])) AS c
  FROM ww WHERE len(arr) >= 2
),
wz AS (SELECT doc_id, unnest(arr) AS w FROM ww),
uni AS (SELECT w, count(*)::BIGINT AS ucnt FROM wz GROUP BY 1),
t AS (SELECT sum(ucnt) AS total FROM uni),
v AS (SELECT w, ucnt FROM uni ORDER BY ucnt DESC, w ASC LIMIT 20),
b AS (SELECT p, c, count(*)::BIGINT AS bcnt FROM bp GROUP BY 1, 2),
bv AS (SELECT p, c, bcnt FROM b ORDER BY bcnt DESC, p ASC, c ASC LIMIT 50),
s AS (
  SELECT bp.doc_id,
         ln(0.5 * (CASE WHEN bv.bcnt IS NOT NULL AND vp.ucnt IS NOT NULL
                        THEN bv.bcnt / CAST(vp.ucnt AS DOUBLE) ELSE 0.0 END)
            + 0.5 * (CASE WHEN vc.ucnt IS NOT NULL THEN vc.ucnt / t.total
                          ELSE 1.0 / t.total END)) AS logp
  FROM bp
  LEFT JOIN bv ON bp.p = bv.p AND bp.c = bv.c
  LEFT JOIN v vp ON bp.p = vp.w
  LEFT JOIN v vc ON bp.c = vc.w
  CROSS JOIN t
)
SELECT doc_id, round(-avg(logp), 6) AS bigram_nll, count(*)::BIGINT AS n_bigrams
FROM s GROUP BY 1
""",
        "perplexity_buckets": f"""
WITH ww AS (
  SELECT doc_id, unnest({_WORDS}) AS w FROM documents
), nz AS (SELECT * FROM ww WHERE w <> ''),
c AS (SELECT w, count(*)::BIGINT AS cnt FROM nz GROUP BY 1),
t AS (SELECT sum(cnt) AS total FROM c),
v AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w ASC LIMIT 20),
s AS (
  SELECT nz.doc_id,
         CASE WHEN v.w IS NOT NULL THEN ln(v.cnt / t.total)
              ELSE ln(1.0 / t.total) END AS logp
  FROM nz LEFT JOIN v USING (w) CROSS JOIN t
),
sc AS (SELECT doc_id, round(-avg(logp), 6) AS nll FROM s GROUP BY 1),
sl AS (SELECT sc.doc_id, d.lang, sc.nll FROM sc JOIN documents d USING (doc_id)),
hist AS (SELECT lang, nll AS sv, count(*)::BIGINT AS cnt FROM sl GROUP BY 1, 2),
cum AS (
  SELECT lang, sv,
         sum(cnt) OVER (PARTITION BY lang ORDER BY sv) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM hist
),
thr AS (
  SELECT lang,
         min(CASE WHEN cum >= (n * 333 + 999) // 1000 THEN sv END) AS t0,
         min(CASE WHEN cum >= (n * 667 + 999) // 1000 THEN sv END) AS t1
  FROM cum GROUP BY 1
)
SELECT sl.doc_id, sl.lang, sl.nll AS unigram_nll,
       CASE WHEN sl.lang IS NULL THEN NULL
            WHEN sl.nll <= thr.t0 THEN 'head'
            WHEN sl.nll <= thr.t1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sl LEFT JOIN thr USING (lang)
""",
        "boilerplate_words": """
WITH u AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
units AS (SELECT doc_id, unnest(arr) AS w FROM u),
hot AS (SELECT w FROM units WHERE w <> '' GROUP BY w HAVING count(DISTINCT doc_id) >= 390),
hl AS (SELECT coalesce(list(w), []) AS hl FROM hot),
cleaned AS (
  SELECT doc_id, list_filter(arr, x -> NOT list_contains(hl, x)) AS keep, len(arr) AS n_total
  FROM u CROSS JOIN hl
)
SELECT doc_id, array_to_string(keep, ' ') AS clean_text,
       len(keep)::BIGINT AS n_kept, n_total::BIGINT AS n_total
FROM cleaned WHERE len(keep) > 0
""",
        "key_profile": """
WITH per AS (
  SELECT user_id, event_type, count(*)::BIGINT AS n FROM events GROUP BY 1, 2
), labels AS (
  SELECT user_id, sum(n)::BIGINT AS n_events,
         string_agg(event_type || ':' || CAST(n AS VARCHAR), ','
                    ORDER BY event_type || ':' || CAST(n AS VARCHAR)) AS label_counts
  FROM per GROUP BY user_id
), seen AS (
  SELECT user_id, min(ts) AS first_seen, max(ts) AS last_seen,
         sum(CAST(round(value * 100) AS BIGINT)) / 100 AS total_value
  FROM events GROUP BY user_id
), last AS (
  SELECT user_id, event_type AS last_label FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
), first_props AS (
  SELECT user_id, props, ts, event_id FROM (
    SELECT user_id, props, ts, event_id,
           row_number() OVER (PARTITION BY user_id, props ORDER BY ts, event_id) AS rn
    FROM events WHERE props IS NOT NULL
  ) WHERE rn = 1
), targets AS (
  SELECT user_id, string_agg(props, ',' ORDER BY k) AS targets FROM (
    SELECT user_id, props,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
    FROM first_props
  ) WHERE k <= 3 GROUP BY user_id
)
SELECT l.user_id, l.n_events, l.label_counts, s.first_seen, s.last_seen, s.total_value,
       la.last_label, t.targets
FROM labels l JOIN seen s ON l.user_id = s.user_id
JOIN last la ON l.user_id = la.user_id
LEFT JOIN targets t ON l.user_id = t.user_id
""",
        "first_occurrence": """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
""",
        "topk_per_user": """
SELECT user_id, event_type, n, rk FROM (
  SELECT user_id, event_type, n,
         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rk
  FROM (SELECT user_id, event_type, count(*)::BIGINT AS n FROM events GROUP BY 1, 2)
) WHERE rk <= 2
""",
        "sessionize": """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM flagged
), per_sess AS (
  SELECT user_id, session_id, count(*)::BIGINT AS sess_len
  FROM sess GROUP BY 1, 2
)
SELECT user_id, (max(session_id) + 1)::BIGINT AS n_sessions,
       max(sess_len)::BIGINT AS max_sess_len
FROM per_sess GROUP BY user_id
""",
        "bloom_semi_join": """
SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 46)
""",
        "embedding_norms": """
SELECT vec_id, round(sqrt(list_dot_product(embedding, embedding)), 4) AS l2
FROM embeddings
""",
        "ivf_topk": """
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS centroid FROM embeddings WHERE vec_id < 4
), scored_all AS (
  SELECT v.vec_id, c.centroid_id,
         round(list_dot_product(v.embedding, c.centroid) /
               (sqrt(list_dot_product(v.embedding, v.embedding)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS sim
  FROM embeddings v CROSS JOIN cent c
), assign AS (
  SELECT vec_id, centroid_id AS bucket FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rn
    FROM scored_all
  ) WHERE rn = 1
), q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qv, a.bucket
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
  WHERE e.vec_id >= 5 AND e.vec_id < 10
), cand AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.embedding) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS sim
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
  JOIN q ON a.bucket = q.bucket
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sim, rk FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
  FROM cand
) WHERE rk <= 3
""",
        "ivf_topk_probes": """
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS centroid FROM embeddings WHERE vec_id < 4
), scored_all AS (
  SELECT v.vec_id, c.centroid_id,
         round(list_dot_product(v.embedding, c.centroid) /
               (sqrt(list_dot_product(v.embedding, v.embedding)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS sim
  FROM embeddings v CROSS JOIN cent c
), ranked AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rn
  FROM scored_all
), assign AS (
  SELECT vec_id, centroid_id AS bucket FROM ranked WHERE rn = 1
), qassign AS (
  SELECT vec_id, centroid_id AS bucket FROM ranked WHERE rn <= 2
), q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qv, a.bucket
  FROM embeddings e JOIN qassign a ON e.vec_id = a.vec_id
  WHERE e.vec_id >= 5 AND e.vec_id < 10
), cand AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.embedding) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS sim
  FROM embeddings e JOIN assign a ON e.vec_id = a.vec_id
  JOIN q ON a.bucket = q.bucket
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sim, rk FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
  FROM cand
) WHERE rk <= 3
""",
        "doc_quality": f"""
SELECT doc_id, ({n_tok_ws})::BIGINT AS n_tokens_ws,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens_bpe,
       {quality} AS quality_milli
FROM documents
""",
        "lang_id": f"SELECT doc_id, {lang_case} AS lang_pred FROM documents",
        "doc_fingerprints": """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
        "exact_dup_groups": """
SELECT fp, count(*)::BIGINT AS n_docs, min(doc_id)::BIGINT AS keep_id FROM (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
) GROUP BY fp HAVING count(*) > 1
""",
        "minhash_signatures": minhash_sig_sql,
        "minhash_candidates": minhash_cand_sql,
        "minhash_candidates_capped": minhash_cand_capped_sql,
        "ngram_jaccard": jaccard_sql,
        "ngram_jaccard_capped": jaccard_capped_sql,
        "simhash": simhash_sql,
        "simhash_candidates": simhash_cand_sql,
        "simhash_candidates_capped": simhash_cand_capped_sql,
        "winnow_candidates": winnow_sql,
        "rule_suggestions": _suggest_sql(),
        "cosine_topk": cosine_sql,
        "multimodal_features": multimodal_sql,
        "csv_dim_lookup": csv_dim_sql,
        "regex_alternation": """
WITH tagged AS (
  SELECT event_id,
         CASE WHEN user_id % 5 = 0 THEN event_type
              ELSE event_type || '-' || CAST(user_id % 2 AS VARCHAR) END AS tag
  FROM events
)
SELECT event_id, 'tag' AS field, 'regex' AS rule, CAST(tag AS VARCHAR) AS value
FROM tagged
WHERE tag IS NOT NULL AND NOT regexp_full_match(tag, 'click|view')
""",
        "vcheck_json": """
WITH tagged AS (
  SELECT event_id,
         CASE user_id % 4
           WHEN 0 THEN props
           WHEN 1 THEN substr(props, 1, 5)
           WHEN 2 THEN '[1, 2]'
           ELSE NULL END AS tag
  FROM events
)
SELECT event_id, 'tag' AS field, 'vcheck:json_object' AS rule, tag AS value
FROM tagged
WHERE tag IS NOT NULL
  AND NOT (json_valid(tag) AND json_type(TRY_CAST(tag AS JSON)) = 'OBJECT')
""",
        "salted_label_counts": """
SELECT user_id, event_type, count(*)::BIGINT AS n
FROM events GROUP BY user_id, event_type
""",
        "validate_docs": """
SELECT doc_id, field, rule FROM (
  SELECT doc_id, 'text' AS field, 'required' AS rule FROM documents WHERE text IS NULL
  UNION ALL
  SELECT doc_id, 'text', 'minlength' FROM documents WHERE text IS NOT NULL AND length(text) < 60
  UNION ALL
  SELECT doc_id, 'text', 'maxlength' FROM documents WHERE text IS NOT NULL AND length(text) > 500
  UNION ALL
  SELECT doc_id, 'text', 'empty' FROM documents WHERE text IS NOT NULL AND length(text) = 0
  UNION ALL
  SELECT doc_id, 'lang', 'allowed' FROM documents
   WHERE lang IS NOT NULL AND lang NOT IN ('en', 'de', 'fr', 'es')
  UNION ALL
  SELECT doc_id, 'source', 'nullable' FROM documents WHERE source IS NULL
  UNION ALL
  SELECT doc_id, 'source', 'regex' FROM documents
   WHERE source IS NOT NULL AND NOT regexp_full_match(source, 'src[0-9]{1,2}')
  UNION ALL
  SELECT doc_id, 'source', 'forbidden' FROM documents WHERE source = 'src13'
  UNION ALL
  SELECT doc_id, 'n_chars', 'min' FROM documents WHERE n_chars IS NOT NULL AND n_chars < 0
  UNION ALL
  SELECT doc_id, 'n_chars', 'max' FROM documents WHERE n_chars IS NOT NULL AND n_chars > 520
)
""",
        "embedding_neardup": """
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS centroid FROM embeddings WHERE vec_id < 16
), scored_all AS (
  SELECT v.vec_id, c.centroid_id,
         round(list_dot_product(v.embedding, c.centroid) /
               (sqrt(list_dot_product(v.embedding, v.embedding)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS sim
  FROM embeddings v CROSS JOIN cent c
), assign AS (
  SELECT vec_id, centroid_id AS bucket FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rn
    FROM scored_all
  ) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(ea.embedding, eb.embedding) /
               (sqrt(list_dot_product(ea.embedding, ea.embedding)) *
                sqrt(list_dot_product(eb.embedding, eb.embedding))), 4) AS sim
  FROM assign a JOIN assign b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.4
""",
        "cosine_neardup_capped": """
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS centroid FROM embeddings WHERE vec_id < 16
), scored_all AS (
  SELECT v.vec_id, c.centroid_id,
         round(list_dot_product(v.embedding, c.centroid) /
               (sqrt(list_dot_product(v.embedding, v.embedding)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6) AS sim
  FROM embeddings v CROSS JOIN cent c
), assign0 AS (
  SELECT vec_id, centroid_id AS bucket FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC) AS rn
    FROM scored_all
  ) WHERE rn = 1
), ok AS (
  SELECT bucket FROM assign0 GROUP BY bucket HAVING count(*) <= 35
), assign AS (
  SELECT a0.vec_id, a0.bucket FROM assign0 a0 JOIN ok USING (bucket)
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(ea.embedding, eb.embedding) /
               (sqrt(list_dot_product(ea.embedding, ea.embedding)) *
                sqrt(list_dot_product(eb.embedding, eb.embedding))), 4) AS sim
  FROM assign a JOIN assign b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.4
""",
    }
    out["dedup_clusters"] = f"""
WITH RECURSIVE cand AS ({minhash_cand_sql}),
sym AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM cand
),
reach(id, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, count(*)::BIGINT AS csize FROM cc GROUP BY cluster_id)
SELECT cc.id, cc.cluster_id, s.csize, (cc.id = cc.cluster_id) AS keep
FROM cc JOIN sizes s USING (cluster_id)
"""
    out["cluster_reps"] = f"""
WITH RECURSIVE cand AS ({minhash_cand_sql}),
sym AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM cand
),
reach(id, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
j AS (
  SELECT cc.id, cc.cluster_id, d.n_chars
  FROM cc JOIN documents d ON d.doc_id = cc.id
),
r AS (
  SELECT cluster_id, id, n_chars,
         row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS csize
  FROM j
)
SELECT cluster_id, id AS rep_id, csize::BIGINT AS csize, n_chars AS rep_quality
FROM r WHERE rn = 1
"""
    out["sequence_dups"] = """
WITH fp AS (
  SELECT CAST(user_id AS VARCHAR) || '|' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS key,
         ('0x' || substr(md5(string_agg(md5(coalesce(event_type, '')), chr(31)
             ORDER BY ts, event_id, coalesce(event_type, ''))), 1, 15))::BIGINT AS seq_fp,
         count(*)::BIGINT AS n_items
  FROM events GROUP BY 1
)
SELECT seq_fp, count(*)::BIGINT AS n_keys, min(n_items) AS n_items,
       string_agg(key, ',' ORDER BY key) AS keys
FROM fp GROUP BY seq_fp HAVING count(*) > 1
"""
    # conversation-level NEAR dedup: turn-bigram shingles (md5-hashed
    # tokens, "^" boundary sentinel) -> universal-hash MinHash with the
    # SAME (a_j, b_j) coefficients as cerberus_spark.operators.dedup
    conv_sig_cte = f"""
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) || '|' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS key,
         ts, event_id, coalesce(event_type, '') AS tok
  FROM events
), sh AS (
  SELECT key,
         coalesce(lag(md5(tok), 1) OVER (PARTITION BY key ORDER BY ts, event_id, tok), '^')
           || chr(31) || md5(tok) AS s
  FROM t
), hs AS (
  SELECT key, {_MD5_I64.format(expr="s")} % {MINHASH_P} AS h FROM sh
), sig AS (
  SELECT key, c.j AS h_idx, min((c.a * h + c.b) % {MINHASH_P})::BIGINT AS h_val
  FROM hs CROSS JOIN (VALUES {coeff_values}) c(j, a, b)
  GROUP BY key, c.j
)"""
    out["conv_minhash"] = f"""
{conv_sig_cte}
SELECT key, CAST(h_idx AS INT) AS h_idx, h_val FROM sig
"""
    out["conv_neardup"] = f"""
{conv_sig_cte},
band AS (
  SELECT key, h_idx // 4 AS band_idx,
         string_agg(CAST(h_val AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
  FROM sig GROUP BY key, h_idx // 4
), kept AS (
  -- bucket cap: drop whole buckets with more than 8 members
  SELECT key, band_idx, band_sig FROM (
    SELECT band.*, count(*) OVER (PARTITION BY band_idx, band_sig) AS _n FROM band
  ) WHERE _n <= 8
)
SELECT a.key AS id_a, b.key AS id_b, count(*)::BIGINT AS n_bands_shared
FROM kept a JOIN kept b
  ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.key < b.key
GROUP BY a.key, b.key
"""
    # candidate -> verify: exact Jaccard of the distinct shingle-hash
    # sets, rounded to 6 places BEFORE the threshold (cross-engine)
    conv_verify_ctes = f"""
band AS (
  SELECT key, h_idx // 4 AS band_idx,
         string_agg(CAST(h_val AS VARCHAR), '_' ORDER BY h_idx) AS band_sig
  FROM sig GROUP BY key, h_idx // 4
), kept AS (
  SELECT key, band_idx, band_sig FROM (
    SELECT band.*, count(*) OVER (PARTITION BY band_idx, band_sig) AS _n FROM band
  ) WHERE _n <= 8
), cand AS (
  SELECT a.key AS id_a, b.key AS id_b
  FROM kept a JOIN kept b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.key < b.key
  GROUP BY 1, 2
), shd AS (
  SELECT DISTINCT key, h FROM hs
), sz AS (
  SELECT key, count(*)::BIGINT AS n_sh FROM shd GROUP BY key
), shared AS (
  SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_shared
  FROM cand c
  JOIN shd a ON a.key = c.id_a
  JOIN shd b ON b.key = c.id_b AND b.h = a.h
  GROUP BY 1, 2
), jac AS (
  SELECT s.id_a, s.id_b,
         round(s.n_shared / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
  FROM shared s JOIN sz sa ON sa.key = s.id_a JOIN sz sb ON sb.key = s.id_b
)"""
    out["conv_jaccard"] = f"""
{conv_sig_cte},
{conv_verify_ctes}
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.25
"""
    out["conv_clusters"] = f"""
{conv_sig_cte.replace("WITH t AS", "WITH RECURSIVE t AS")},
{conv_verify_ctes},
jpairs AS (
  SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM jpairs
),
reach(id, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, count(*)::BIGINT AS csize FROM cc GROUP BY cluster_id)
SELECT cc.id, cc.cluster_id, s.csize, (cc.id = cc.cluster_id) AS keep
FROM cc JOIN sizes s USING (cluster_id)
"""
    out["winnow_clusters"] = f"""
WITH RECURSIVE cand AS ({winnow_sql}),
sym AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM cand
),
reach(id, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, count(*)::BIGINT AS csize FROM cc GROUP BY cluster_id)
SELECT cc.id, cc.cluster_id, s.csize, (cc.id = cc.cluster_id) AS keep
FROM cc JOIN sizes s USING (cluster_id)
"""
    out["leak_safe_split"] = f"""
WITH RECURSIVE cand AS ({minhash_cand_sql}),
sym AS (
  SELECT id_a AS a, id_b AS b FROM cand
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM cand
),
reach(id, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
assigned AS (
  SELECT ('0x' || substr(md5(CAST(coalesce(cc.cluster_id, d.doc_id) AS VARCHAR) || '|split'), 1, 15))::BIGINT % 10000 AS bucket
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split,
       count(*)::BIGINT AS n_docs
FROM assigned GROUP BY 1
"""
    out["asof_enrich"] = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'click' AND user_id < 30
), purch AS (
  SELECT user_id, ts, round(max(value), 2) AS p_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts,
       p.ts AS prev_purchase_ts, p.p_value AS prev_purchase_value
FROM clicks c ASOF LEFT JOIN purch p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""
    out["interval_join_campaigns"] = """
WITH camp AS (
  SELECT id AS campaign_id,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (36*id) HOUR AS start_ts,
         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (36*id + 24) HOUR AS end_ts
  FROM range(0, 20) t(id)
)
SELECT c.campaign_id, count(*)::BIGINT AS n_events, sum(CAST(round(e.value * 100) AS BIGINT)) / 100 AS total_value
FROM events e JOIN camp c ON e.ts >= c.start_ts AND e.ts < c.end_ts
GROUP BY c.campaign_id
"""
    split_bucket = (
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 15))::BIGINT % 10000"
    )
    out["hash_split"] = f"""
WITH assigned AS (
  SELECT n_chars,
         CASE WHEN {split_bucket} < 9000 THEN 'train'
              WHEN {split_bucket} < 9500 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM assigned GROUP BY split
"""
    ev_bucket = (
        "('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|sample'), 1, 15))::BIGINT % 10000"
    )
    out["stratified_sample"] = f"""
SELECT event_type, count(*)::BIGINT AS n_kept, sum(CAST(round(value * 100) AS BIGINT)) / 100 AS sum_value
FROM events
WHERE {ev_bucket} < CASE event_type
    WHEN 'purchase' THEN 10000 WHEN 'view' THEN 2000 WHEN 'click' THEN 1000
    ELSE 0 END
GROUP BY event_type
"""
    # n_tokens generated from the SAME pattern constant as the Spark
    # side (token_count_robust) — engines cannot drift; pack_id mirrors
    # Spark's floor(double division) bit-for-bit instead of `//`.
    n_tok = token_count_robust_sql("text")
    out["pack_documents"] = f"""
WITH toks AS (
  SELECT doc_id, {n_tok} AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS bucket
  FROM documents
), packed AS (
  SELECT bucket, n_tokens,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens)
                    / CAST(512 AS DOUBLE)) AS BIGINT) AS pack_id
  FROM toks
)
SELECT bucket, pack_id, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
FROM packed GROUP BY 1, 2
"""
    out["vocab_stats"] = f"""
WITH ex AS (
  SELECT doc_id, unnest({_WORDS}) AS term FROM documents
)
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM ex WHERE term <> ''
GROUP BY term HAVING count(DISTINCT doc_id) >= 25
"""
    eval_bucket = (
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|eval'), 1, 15))::BIGINT % 10000"
    )
    sh_hash = _MD5_I64.format(expr="s")
    out["contamination"] = f"""
WITH sh AS (
  SELECT doc_id, {_shingles_sql(3)} AS sh,
         {eval_bucket} AS bucket
  FROM (SELECT doc_id, {_WORDS} AS w FROM documents)
), ev AS (
  SELECT DISTINCT {sh_hash} AS shh FROM sh, unnest(sh.sh) AS t(s) WHERE bucket < 500
), tr AS (
  SELECT doc_id, len(sh) AS n_sh, {sh_hash} AS shh
  FROM sh, unnest(sh.sh) AS t(s) WHERE bucket >= 500
)
SELECT tr.doc_id, any_value(tr.n_sh)::BIGINT AS n_shingles,
       count(ev.shh)::BIGINT AS n_contaminated,
       CAST(floor(1000 * count(ev.shh) / any_value(tr.n_sh)) AS BIGINT) AS contam_milli
FROM tr LEFT JOIN ev ON tr.shh = ev.shh
GROUP BY tr.doc_id HAVING count(ev.shh) > 0
"""
    # every document keeps its row: NULL text unnests to no words, so
    # its word counts come from a LEFT join and stay NULL
    out["doc_repetition"] = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
ex AS (SELECT doc_id, s FROM w, unnest(w.w) AS t(s)),
wc AS (
  SELECT doc_id, count(*) AS n, count(DISTINCT s) AS nd, max(c) AS topc
  FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY doc_id, s) AS c FROM ex)
  GROUP BY doc_id
), g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END AS n2,
         len(list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS nd2
  FROM w
)
SELECT g.doc_id,
       CAST(floor(1000 * (n - nd) / n) AS BIGINT) AS dup_word_milli,
       CAST(floor(1000 * topc / n) AS BIGINT) AS top_word_milli,
       CASE WHEN n2 > 0 THEN CAST(floor(1000 * (n2 - nd2) / n2) AS BIGINT) END AS dup_2gram_milli
FROM g LEFT JOIN wc ON wc.doc_id = g.doc_id
"""
    out["normalize_nfc"] = (
        "SELECT doc_id, md5(nfc_normalize(text)) AS nfc_md5 FROM documents"
    )
    # ties on count take the longest gram in both engines; dup coverage
    # is sum(count x len) over grams with count > 1 (same approximation
    # as the Spark fold); docs with < 3 words emit NULL metrics
    out["ngram_repetition"] = f"""
WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
g AS (
  SELECT doc_id, len(w) AS nw, length(array_to_string(w, ' ')) AS total,
         CASE WHEN len(w) >= 3 THEN
           list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
         ELSE [] END AS grams
  FROM w
), c AS (
  SELECT doc_id, any_value(total) AS total, gram, count(*) AS cnt
  FROM (SELECT doc_id, total, s AS gram FROM g, unnest(g.grams) AS t(s))
  GROUP BY doc_id, gram
), r AS (
  SELECT doc_id, total, cnt, length(gram) AS glen,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, length(gram) DESC, gram ASC) AS rn
  FROM c
), top AS (
  SELECT doc_id, CAST(floor(1000 * cnt * glen / total) AS BIGINT) AS topm
  FROM r WHERE rn = 1
), dup AS (
  SELECT doc_id,
         CAST(floor(1000 * COALESCE(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) END), 0)
                    / any_value(total)) AS BIGINT) AS dupm
  FROM c GROUP BY doc_id
)
SELECT g.doc_id, top.topm AS top_3gram_char_milli, dup.dupm AS dup_3gram_char_milli
FROM g LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
"""
    # same permille/quality expressions as the doc_quality and
    # doc_repetition pairs; reason order mirrors gopher_reasons.  NULL
    # text trips no rule and keeps (its metrics are NULL); DuckDB joins
    # an empty list to NULL where Spark gives '', hence the coalesce
    gate = GOPHER_GATE
    out["gopher_gate"] = f"""
WITH w AS (SELECT doc_id, text, {_WORDS} AS w FROM documents),
ex AS (SELECT doc_id, s FROM w, unnest(w.w) AS t(s)),
wc AS (
  SELECT doc_id, count(*) AS n, count(DISTINCT s) AS nd, max(c) AS topc
  FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY doc_id, s) AS c FROM ex)
  GROUP BY doc_id
), g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END AS n2,
         len(list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))) AS nd2
  FROM w
), m AS (
  SELECT g.doc_id,
         CAST(floor(1000 * (n - nd) / n) AS BIGINT) AS dupw,
         CAST(floor(1000 * topc / n) AS BIGINT) AS topw,
         CASE WHEN n2 > 0 THEN CAST(floor(1000 * (n2 - nd2) / n2) AS BIGINT) END AS dup2
  FROM g LEFT JOIN wc ON wc.doc_id = g.doc_id
), q AS (
  SELECT doc_id, ({n_tok_ws})::BIGINT AS ntok, {quality} AS qual FROM documents
), r AS (
  SELECT q.doc_id,
         coalesce(array_to_string(list_filter([
           CASE WHEN ntok < {gate['min_tokens']} THEN 'too_short' END,
           CASE WHEN ntok > {gate['max_tokens']} THEN 'too_long' END,
           CASE WHEN dupw > {gate['max_dup_word_milli']} THEN 'dup_words' END,
           CASE WHEN topw > {gate['max_top_word_milli']} THEN 'top_word_dominates' END,
           CASE WHEN dup2 > {gate['max_dup_2gram_milli']} THEN 'dup_2grams' END,
           CASE WHEN qual < {gate['min_quality_milli']} THEN 'low_quality' END
         ], x -> x IS NOT NULL), ','), '') AS reasons
  FROM q LEFT JOIN m ON q.doc_id = m.doc_id
)
SELECT doc_id, (reasons = '') AS keep, reasons FROM r
"""
    out["merge_intervals"] = """
WITH iv AS (
  SELECT user_id, CAST(floor(value) AS BIGINT) AS lo,
         CAST(floor(value) AS BIGINT) + 1 + event_id % 19 AS hi
  FROM events
), s AS (
  SELECT user_id, lo, hi,
         max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv
), i AS (
  SELECT user_id, lo, hi,
         sum(CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY lo, hi ROWS UNBOUNDED PRECEDING) AS isl
  FROM s
)
SELECT user_id, min(lo) AS lo, max(hi) AS hi, count(*)::BIGINT AS n_merged
FROM i GROUP BY user_id, isl
"""
    mix_bucket = (
        "('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|mixture'), 1, 15))::BIGINT % 10000"
    )
    out["mixture_resample"] = f"""
WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1),
t AS (
  SELECT source, n, sum(n) OVER () AS tot,
         CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
                     WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.1
                     ELSE 0.0 END AS tw
  FROM c
), r AS (SELECT source, tw * tot / n AS ratio FROM t),
k AS (
  SELECT source,
         CAST(floor(10000 * (ratio / max(ratio) OVER ()) + 0.5) AS BIGINT) AS thr
  FROM r
)
SELECT d.doc_id, d.source
FROM documents d JOIN k ON d.source = k.source
WHERE {mix_bucket} < k.thr
"""
    seq_allowed = ", ".join("'" + a + "\x1f" + b + "'" for a, b in SEQ_ALLOWED)
    seq_first = ", ".join("'" + s + "'" for s in SEQ_ALLOWED_FIRST)
    # null-gated like checks/sequence.py: NULL states report
    # 'null_state', transitions are judged only between two non-NULL
    # states, 'first row' is rn=1 (not prev IS NULL) — engine-identical
    # even if NULL event_types ever enter the data
    out["sequence_violations"] = f"""
WITH o AS (
  SELECT user_id, event_id, event_type, ts,
         lag(event_type) OVER w AS prev_state,
         lag(ts) OVER w AS prev_ts,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, event_type, prev_state, 'transition' AS rule
FROM o
WHERE prev_state IS NOT NULL AND event_type IS NOT NULL
  AND (prev_state || chr(31) || event_type) NOT IN ({seq_allowed})
UNION ALL
SELECT user_id, event_id, event_type, prev_state, 'null_state' AS rule
FROM o WHERE event_type IS NULL
UNION ALL
SELECT user_id, event_id, event_type, prev_state, 'ts_regression' AS rule
FROM o WHERE ts < prev_ts
UNION ALL
SELECT user_id, event_id, event_type, prev_state, 'first_state' AS rule
FROM o WHERE rn = 1 AND event_type NOT IN ({seq_first})
"""
    # transcript_clean_report: the sequence-violations twin keyed by
    # (user, day) conversation feeds a healthy-only filter into the
    # SHARED conv signature chain (conv_sig_cte with the WHERE spliced
    # into its t CTE — exact-text replace, so the signature math can
    # never drift from the conv_minhash/conv_jaccard pairs), then the
    # verified clusters' non-survivors and the kept census roll up to
    # (stage, reason, n_convs).  Spark's report has a near_dup row only
    # when losers exist (groupBy emits nothing on empty), hence HAVING.
    healthy_sig_ctes = conv_sig_cte.replace("WITH t AS", "t AS").replace(
        "  FROM events\n), sh AS",
        "  FROM events\n  WHERE key NOT IN (SELECT conv FROM unhealthy)\n), sh AS",
    )
    assert "unhealthy" in healthy_sig_ctes, "conv_sig_cte splice drifted"
    out["transcript_clean_report"] = f"""
WITH RECURSIVE o AS (
  SELECT CAST(user_id AS VARCHAR) || '|' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS key,
         event_type, ts,
         lag(event_type) OVER w AS prev_state,
         lag(ts) OVER w AS prev_ts,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY CAST(user_id AS VARCHAR) || '|' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
               ORDER BY ts, event_id)
), vio AS (
  SELECT DISTINCT key AS conv, 'transition' AS reason FROM o
  WHERE prev_state IS NOT NULL AND event_type IS NOT NULL
    AND (prev_state || chr(31) || event_type) NOT IN ({seq_allowed})
  UNION
  SELECT DISTINCT key, 'null_state' FROM o WHERE event_type IS NULL
  UNION
  SELECT DISTINCT key, 'ts_regression' FROM o WHERE ts < prev_ts
  UNION
  SELECT DISTINCT key, 'first_state' FROM o
  WHERE rn = 1 AND event_type NOT IN ({seq_first})
), unhealthy AS (SELECT DISTINCT conv FROM vio),
{healthy_sig_ctes},
{conv_verify_ctes},
jpairs AS (
  SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM jpairs
),
reach(id, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.id
),
cc AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
losers AS (SELECT id AS conv FROM cc WHERE id <> cluster_id),
keptc AS (
  SELECT conv FROM (
    SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' || CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS conv
    FROM events
  )
  WHERE conv NOT IN (SELECT conv FROM unhealthy)
    AND conv NOT IN (SELECT conv FROM losers)
)
SELECT 'health' AS stage, reason, count(*)::BIGINT AS n_convs FROM vio GROUP BY 1, 2
UNION ALL
SELECT 'near_dup' AS stage, 'cluster_loser' AS reason, count(*)::BIGINT AS n_convs
FROM losers HAVING count(*) > 0
UNION ALL
SELECT 'kept' AS stage, 'survivor' AS reason, count(*)::BIGINT AS n_convs FROM keptc
"""
    nr_cols = NULL_DRIFT_COLS
    nr_b = ", ".join(
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS b_{c}" for c in nr_cols
    )
    nr_c = ", ".join(
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS c_{c}" for c in nr_cols
    )
    nr_rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, round(b_{c} / b_n, 6) AS base_null_rate, "
        f"round(c_{c} / c_n, 6) AS cur_null_rate, "
        f"round(round(c_{c} / c_n, 6) - round(b_{c} / b_n, 6), 6) AS delta FROM b, c"
        for c in nr_cols
    )
    out["null_rate_drift"] = f"""
WITH b AS (
  SELECT count(*) AS b_n, {nr_b} FROM events WHERE ts < TIMESTAMP '{DRIFT_SPLIT}'
), c AS (
  SELECT count(*) AS c_n, {nr_c} FROM events WHERE ts >= TIMESTAMP '{DRIFT_SPLIT}'
)
{nr_rows}
"""
    out["normalize_phase"] = """
SELECT event_id,
       upper(coalesce(event_type, 'unknown')) AS etype,
       trim(props) AS props
FROM events
"""
    out["conversation_gate"] = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, ts,
         coalesce(TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER), -1) AS k_idx
  FROM events
), rep AS (
  SELECT user_id AS conv, count(*)::BIGINT AS n_turns,
         (count(*) - count(DISTINCT k_idx))::BIGINT AS n_dup_idx,
         greatest(0, max(k_idx) - 0 + 1
                  - count(DISTINCT CASE WHEN k_idx >= 0 THEN k_idx END))::BIGINT AS n_missing,
         count(DISTINCT CASE WHEN k_idx < 0 THEN k_idx END)::BIGINT AS n_below_start
  FROM ev GROUP BY user_id
), o AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER w AS prev_state,
         lag(ts) OVER w AS prev_ts,
         row_number() OVER w AS rn
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), counts AS (
  SELECT user_id AS conv,
         sum(CASE WHEN prev_state IS NOT NULL AND event_type IS NOT NULL
                  AND (prev_state || chr(31) || event_type) NOT IN ({seq_allowed})
                  THEN 1 ELSE 0 END)::BIGINT AS n_transition,
         sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_state,
         sum(CASE WHEN ts < prev_ts THEN 1 ELSE 0 END)::BIGINT AS n_ts_regression,
         sum(CASE WHEN rn = 1 AND event_type NOT IN ({seq_first})
                  THEN 1 ELSE 0 END)::BIGINT AS n_first_state
  FROM o GROUP BY user_id
)
SELECT rep.conv, n_turns, n_dup_idx, n_missing, n_below_start,
       coalesce(n_transition, 0) AS n_transition,
       coalesce(n_null_state, 0) AS n_null_state,
       coalesce(n_ts_regression, 0) AS n_ts_regression,
       coalesce(n_first_state, 0) AS n_first_state,
       (n_dup_idx = 0 AND n_missing = 0 AND n_below_start = 0
        AND coalesce(n_transition, 0) = 0 AND coalesce(n_null_state, 0) = 0
        AND coalesce(n_ts_regression, 0) = 0 AND coalesce(n_first_state, 0) = 0) AS keep
FROM rep LEFT JOIN counts ON rep.conv IS NOT DISTINCT FROM counts.conv
"""
    out["lineitem_contiguity"] = """
SELECT l_orderkey AS conv,
       count(*)::BIGINT AS n_rows,
       min(l_linenumber)::BIGINT AS min_idx,
       max(l_linenumber)::BIGINT AS max_idx,
       (count(*) - count(DISTINCT l_linenumber))::BIGINT AS n_dup_idx,
       greatest(0, max(l_linenumber) - 1 + 1
                - count(DISTINCT CASE WHEN l_linenumber >= 1 THEN l_linenumber END))::BIGINT
         AS n_missing,
       count(DISTINCT CASE WHEN l_linenumber < 1 THEN l_linenumber END)::BIGINT
         AS n_below_start
FROM lineitem
GROUP BY l_orderkey
"""
    out["topk_sketch"] = """
WITH c AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS item, count(*)::BIGINT AS lo
  FROM events GROUP BY 1, 2
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY lo DESC, item) AS rn
  FROM c
), kept AS (
  SELECT event_type,
         string_agg(item || ':' || lo, ',' ORDER BY lo DESC, item DESC) AS state_str
  FROM r WHERE rn <= 8 GROUP BY event_type
), dropped AS (
  SELECT event_type, lo AS err FROM r WHERE rn = 9
)
SELECT kept.event_type, kept.state_str,
       coalesce(dropped.err, 0)::BIGINT AS err
FROM kept LEFT JOIN dropped ON kept.event_type = dropped.event_type
"""
    out["reindex_turns"] = """
SELECT user_id, event_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER)
         AS turn_idx_fixed
FROM events
"""
    # streaming path must produce EXACTLY the batch rule-summary counts
    out["stream_validate"] = out["validation_summary"]
    return out
