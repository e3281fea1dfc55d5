"""Operator tests incl. reference-semantics ports: the classifier truth
tables of internal/monitor/monitor.go:80-188 reproduced over analog
columns (SURVEY.md §5.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_spark.operators.aggregate import key_profile, salted_count_map
from cerberus_spark.operators.classify import Classifier
from cerberus_spark.operators.dedup import first_occurrence
from cerberus_spark.operators.sessionize import sessionize
from cerberus_spark.operators.topk import top_k_per_group

# --- reference truth table: TCP classifier (monitor.go:80-106) -------------
# allowed ports {80,443,22} win over flag bits; then SYN&!ACK, SYN&ACK,
# FIN, RST, ACK; else CUSTOM.  Flags: FIN=0x01 SYN=0x02 RST=0x04 ACK=0x10

TCP_CASES = [
    # (dst_port, flags, expected)
    (80, 0x02, "HTTP"),
    (443, 0x12, "HTTPS"),
    (22, 0x10, "SSH"),
    (8080, 0x02, "SYN"),         # SYN, no ACK
    (8080, 0x12, "SYN_ACK"),
    (8080, 0x01, "FIN"),
    (8080, 0x04, "RST"),
    (8080, 0x10, "ACK"),
    (8080, 0x00, "CUSTOM"),
]


def python_tcp_classify(port: int, flags: int) -> str:
    if port == 80:
        return "HTTP"
    if port == 443:
        return "HTTPS"
    if port == 22:
        return "SSH"
    if flags & 0x02 and not flags & 0x10:
        return "SYN"
    if flags & 0x02 and flags & 0x10:
        return "SYN_ACK"
    if flags & 0x01:
        return "FIN"
    if flags & 0x04:
        return "RST"
    if flags & 0x10:
        return "ACK"
    return "CUSTOM"


def build_tcp_classifier() -> Classifier:
    port, flags = F.col("dst_port"), F.col("flags")
    return (
        Classifier("CUSTOM")
        .when(port == 80, "HTTP")
        .when(port == 443, "HTTPS")
        .when(port == 22, "SSH")
        .when_bit(flags, 0x02, "SYN", unset_mask=0x10)
        .when((flags.bitwiseAND(0x02) != 0) & (flags.bitwiseAND(0x10) != 0), "SYN_ACK")
        .when_bit(flags, 0x01, "FIN")
        .when_bit(flags, 0x04, "RST")
        .when_bit(flags, 0x10, "ACK")
    )


def test_tcp_truth_table(spark):
    df = spark.createDataFrame(
        [(p, f) for (p, f, _) in TCP_CASES], "dst_port int, flags int"
    )
    out = build_tcp_classifier().apply(df, "label").collect()
    got = {(r.dst_port, r.flags): r.label for r in out}
    for p, f, exp in TCP_CASES:
        assert got[(p, f)] == exp == python_tcp_classify(p, f)


def test_first_match_wins_order(spark):
    # port 80 with SYN flag must classify as HTTP (port rule first),
    # mirroring the reference's check order
    df = spark.createDataFrame([(80, 0x02)], "dst_port int, flags int")
    assert build_tcp_classifier().apply(df, "label").first().label == "HTTP"


# --- ARP classifier analog (monitor.go:121-134): cross-field rules ---------

def test_arp_value_rules(spark):
    rows = [
        ("0.0.0.0", "10.0.0.2", 1, "PROBE"),
        ("10.0.0.5", "10.0.0.5", 1, "ANNOUNCE"),
        ("10.0.0.1", "10.0.0.2", 1, "REQUEST"),
        ("10.0.0.1", "10.0.0.2", 2, "REPLY"),
        ("10.0.0.1", "10.0.0.2", 9, "REQUEST"),  # default
    ]
    df = spark.createDataFrame([(s, d, o) for s, d, o, _ in rows], "src string, dst string, op int")
    cls = (
        Classifier("REQUEST")
        .when(F.col("src") == "0.0.0.0", "PROBE")
        .when(F.col("src") == F.col("dst"), "ANNOUNCE")
        .when(F.col("op") == 1, "REQUEST")
        .when(F.col("op") == 2, "REPLY")
    )
    got = [r.label for r in cls.apply(df, "label").collect()]
    assert got == [e for *_, e in rows]


# --- aggregation -----------------------------------------------------------

EVENTS = [
    # key, label, ts, value, target
    ("k1", "a", 100, 1.0, "t1"),
    ("k1", "b", 200, 2.0, "t2"),
    ("k1", "a", 300, 3.0, "t1"),
    ("k1", "c", 50, 4.0, "t3"),
    ("k2", "a", 10, 5.0, None),
]


@pytest.fixture(scope="module")
def events_df(spark):
    return spark.createDataFrame(
        [(k, l, t, v, g) for k, l, t, v, g in EVENTS],
        "key string, label string, ts long, value double, target string",
    )


def test_key_profile(spark, events_df):
    prof = {r.key: r for r in key_profile(
        events_df, "key", "label", "ts", value_col="value", target_col="target", tiebreak_col="label"
    ).collect()}
    k1 = prof["k1"]
    assert k1.n_events == 4
    assert k1.label_counts == {"a": 2, "b": 1, "c": 1}
    assert k1.first_seen == 50 and k1.last_seen == 300
    assert k1.total_value == 10.0
    assert k1.last_label == "a"  # ts=300
    assert k1.targets == ["t3", "t1", "t2"]  # by first occurrence order (ts 50,100,200)
    assert prof["k2"].targets is None


def test_key_profile_pair_ties_and_nulls_parity(spark, contract_pair):
    """Cross-engine parity of the key_profile contract pair on what the
    shipped events never hold: a ts tie broken by event_id, a NULL
    value, repeated and NULL props, more distinct props than the cap."""
    import datetime as dt

    T0 = dt.datetime(2026, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, T0, 10, "view", 1.25, '{"k": 1}'),
        (2, T0 + s, 10, "click", None, '{"k": 2}'),
        (3, T0 + s, 10, "purchase", 2.5, '{"k": 1}'),      # repeated props
        (4, T0 + 2 * s, 10, "purchase", 0.1, '{"k": 4}'),
        (5, T0 + 2 * s, 10, "view", 0.2, '{"k": 3}'),      # ts tie: id 5 is last
        (6, T0, 11, "error", 3.0, None),                    # no props at all
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got, want = contract_pair("key_profile", "events", df)
    assert got == want, (got, want)
    by_user = {r[0]: r for r in got}
    assert by_user[10][2] == "click:1,purchase:2,view:2"
    assert by_user[10][5:] == (4.05, "view", '{"k": 1},{"k": 2},{"k": 4}')
    assert by_user[11][7] is None


def test_key_profile_pair_null_labels_parity(spark, contract_pair):
    """A NULL label counts in ``n_events`` and can be ``last_label`` but
    has no ``label_counts`` entry (a map key cannot be NULL), as DuckDB's
    ``string_agg`` skips it; a user with only NULL labels has no label
    string at all."""
    import datetime as dt

    T0 = dt.datetime(2026, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, T0, 10, "view", 1.0, '{"k": 1}'),
        (2, T0 + s, 10, None, 2.0, '{"k": 2}'),
        (3, T0 + 2 * s, 10, None, 3.0, None),               # NULL label is last
        (4, T0, 11, None, 0.5, '{"k": 1}'),                 # only NULL labels
        (5, T0 + s, 11, None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got, want = contract_pair("key_profile", "events", df)
    assert got == want, (got, want)
    by_user = {r[0]: r for r in got}
    assert by_user[10][1:3] == (3, "view:1")
    assert by_user[10][6] is None
    assert by_user[11][1:3] == (2, None)
    assert by_user[11][6] is None


def test_salted_agg_equals_plain(spark, events_df):
    plain = {
        (r.key, r.label): r["count"]
        for r in events_df.groupBy("key", "label").count().collect()
    }
    salted = {
        (r.key, r.label): r.n for r in salted_count_map(events_df, "key", "label").collect()
    }
    assert plain == salted


def test_first_occurrence(spark, events_df):
    got = first_occurrence(events_df, ["key", "label"], ["ts"]).collect()
    pairs = {(r.key, r.label): r.ts for r in got}
    assert pairs == {("k1", "a"): 100, ("k1", "b"): 200, ("k1", "c"): 50, ("k2", "a"): 10}


def test_top_k_deterministic(spark, events_df):
    got = top_k_per_group(events_df, "key", "label", k=2).collect()
    k1 = sorted((r.rk, r.label, r.n) for r in got if r.key == "k1")
    # a has 2; b and c tie at 1 -> label asc picks b
    assert k1 == [(1, "a", 2), (2, "b", 1)]


def test_sessionize_brute_force(spark):
    df = spark.createDataFrame(
        [("u", 0, 0), ("u", 1, 10), ("u", 2, 2000), ("u", 3, 2010), ("u", 4, 9000)],
        "key string, eid int, secs long",
    ).withColumn("ts", F.timestamp_seconds(F.col("secs")))
    out = sessionize(df, "key", "ts", gap_seconds=1800, tiebreak="eid")
    got = {r.eid: r.session_id for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}


def test_validate_nested_pair_null_props_parity(spark, tmp_path):
    """Cross-engine parity of the validate_nested contract pair on the
    NULL/malformed-props paths the shipped testdata never exercises:
    Spark's from_json returns NULL only for NULL input (malformed JSON
    yields a struct of NULL fields), so a NULL-props non-purchase row
    must fire the TOP-LEVEL ('p','required') — not ('p.k','required')
    — in BOTH engines.  Regression for the oracle's p_present proxy."""
    import datetime as dt

    import duckdb

    import __spark_entry__ as entry

    T0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, T0, 10, "view", 1.0, '{"k": 42}'),       # healthy nested k
        (2, T0, 10, "view", 1.0, None),              # NULL props -> ('p','required')
        (3, T0, 10, "purchase", 1.0, '{"k": 42}'),   # p nulled by design
        (4, T0, 10, None, 1.0, '{"k": 42}'),         # NULL event_type
        (5, T0, 10, "view", 1.0, '{"k": 2}'),        # nested min
        (6, T0, 10, "view", 1.0, "{bad"),            # malformed -> k NULL
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    got = sorted(
        (r.event_id, r.field, r.rule)
        for r in entry.queries()["validate_nested"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(entry.oracle_sql()["validate_nested"]).fetchall()
    )
    assert got == want, (got, want)
    assert (2, "p", "required") in got      # the latent path, now pinned
    assert (2, "p.k", "required") not in got
    # malformed JSON: Spark parses a struct of NULL fields; the oracle's
    # json_valid guard gives the same NULL k instead of raising
    assert (6, "p.k", "required") in got


def test_validate_extended_pair_malformed_props_parity(spark, contract_pair):
    """Cross-engine parity of the validate_extended contract pair on
    NULL and malformed props: Spark's from_json gives no map to check,
    and the oracle's json_valid guard gives a NULL ``k`` instead of
    DuckDB raising on the malformed row."""
    import datetime as dt

    T0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, T0, 10, "view", 1.0, '{"k": 42}'),
        (2, T0, 11, "view", 1.0, '{"k": 2}'),      # valuesrules.min
        (3, T0, 12, "view", 1.0, None),
        (4, T0, 13, "view", 1.0, "{bad"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got, want = contract_pair("validate_extended", "events", df)
    assert got == want, (got, want)
    assert (2, "pm", "valuesrules.min") in got
    assert not [r for r in got if r[0] in (3, 4) and r[1] == "pm"]


def test_perplexity_buckets_pair_null_lang_parity(spark, tmp_path):
    """Cross-engine parity of the perplexity_buckets contract pair on
    the NULL-lang path the shipped testdata never exercises: a
    NULL-group document must appear WITH a NULL bucket in BOTH engines
    (quantile_buckets' documented passthrough) — not silently drop out
    of the oracle via a NULL-blind threshold join."""
    import duckdb

    import __spark_entry__ as entry

    rows = [
        (i, f"w{i % 4} common words here {'x ' * (i % 5)}", "en", "s", 30)
        for i in range(9)
    ] + [(9, "common words here too", None, "s", 21)]  # NULL lang
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    got = sorted(
        (r.doc_id, r.lang, r.bucket)
        for r in entry.queries()["perplexity_buckets"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[3])
        for r in con.execute(entry.oracle_sql()["perplexity_buckets"]).fetchall()
    )
    assert got == want, (got, want)
    null_rows = [(d, l, b) for d, l, b in got if l is None]
    assert null_rows == [(9, None, None)]  # present, unbucketed — both engines


def test_conversation_gate_pair_null_user_parity(spark, contract_pair):
    """Cross-engine parity of the conversation_gate contract pair when
    user_id is NULL: both engines treat the NULL user as one
    conversation and join its sequence counts to its contiguity row
    null-safely, so its violations are counted, not zeroed."""
    import datetime as dt

    T0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, T0, None, "view", 1.0, '{"k": 0}'),
        (2, T0 + dt.timedelta(seconds=1), None, "purchase", 1.0, '{"k": 0}'),
        (3, T0 + dt.timedelta(seconds=2), None, "purchase", 1.0, '{"k": 2}'),
        (4, T0, 10, "view", 1.0, '{"k": 0}'),
        (5, T0 + dt.timedelta(seconds=1), 10, "click", 1.0, '{"k": 1}'),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got, want = contract_pair("conversation_gate", "events", df)
    assert got == want, (got, want)
    # NULL user: dup k 0, missing k 1, purchase -> purchase disallowed
    assert (None, 3, 1, 1, 0, 1, 0, 0, 0, False) in got
