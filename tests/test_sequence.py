from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from cerberus_spark.checks.sequence import (
    contiguity_report,
    contiguity_violations,
    sequence_violations,
    transition_violations,
)


def _ts(s: int) -> datetime:
    return datetime.fromtimestamp(1704067200 + s, tz=timezone.utc)


GRAMMAR = {
    ("system", "user"),
    ("user", "assistant"),
    ("assistant", "user"),
    ("assistant", "tool"),
    ("tool", "assistant"),
}
FIRST = {"system"}


@pytest.fixture(scope="module")
def seq_df(spark):
    rows = [
        # conv a: clean, dense 0..3
        ("a", 0, "system", _ts(0)),
        ("a", 1, "user", _ts(7)),
        ("a", 2, "assistant", _ts(14)),
        ("a", 3, "user", _ts(21)),
        # conv b: gap (no 2), dup idx 3, ts regression at idx 4,
        # bad first state, bad transition user->user
        ("b", 0, "user", _ts(100)),
        ("b", 1, "user", _ts(107)),
        ("b", 3, "assistant", _ts(114)),
        ("b", 3, "tool", _ts(121)),
        ("b", 4, "assistant", _ts(60)),
        # conv c: starts at 2 (leading gap)
        ("c", 2, "system", _ts(200)),
        ("c", 3, "user", _ts(207)),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp"
    )


def test_contiguity_report_hand_checked(seq_df):
    rep = {r.conv: r for r in contiguity_report(seq_df, "conv_id", "turn_idx").collect()}
    a, b, c = rep["a"], rep["b"], rep["c"]
    assert (a.n_rows, a.min_idx, a.max_idx, a.n_dup_idx, a.n_missing) == (4, 0, 3, 0, 0)
    # b: 5 rows over idx {0,1,3,3,4} -> 1 dup, idx 2 missing
    assert (b.n_rows, b.min_idx, b.max_idx, b.n_dup_idx, b.n_missing) == (5, 0, 4, 1, 1)
    # c: {2,3} from start=0 -> two leading indexes missing
    assert (c.n_rows, c.min_idx, c.max_idx, c.n_dup_idx, c.n_missing) == (2, 2, 3, 0, 2)


def test_contiguity_violations_and_start(seq_df):
    bad = {r.conv for r in contiguity_violations(seq_df, "conv_id", "turn_idx").collect()}
    assert bad == {"b", "c"}
    # with start=2, conv c ({2,3}) becomes dense and clean
    bad2 = {
        r.conv
        for r in contiguity_violations(seq_df, "conv_id", "turn_idx", start=2).collect()
    }
    assert "c" not in bad2


def test_transition_violations(seq_df):
    out = transition_violations(
        seq_df, "conv_id", "role", ["turn_idx", "ts"], GRAMMAR, FIRST
    ).collect()
    got = {(r.conv_id, r.turn_idx, r.rule) for r in out}
    # b0 opens with 'user'; b1 is user->user; b3(tool) follows
    # assistant->tool (OK) but the DUP idx-3 row makes tool->assistant
    # at idx 4 legal, so only the two b violations plus nothing from c
    # (c opens with 'system', system->user is legal)
    assert got == {("b", 0, "first_state"), ("b", 1, "transition")}


def test_sequence_violations_single_pass(seq_df):
    out = sequence_violations(
        seq_df, "conv_id", "role", "ts", ["turn_idx", "ts"], GRAMMAR, FIRST
    ).collect()
    got = sorted((r.conv_id, r.turn_idx, r.rule) for r in out)
    assert got == [
        ("b", 0, "first_state"),
        ("b", 1, "transition"),
        ("b", 4, "ts_regression"),
    ]
    # rule columns carry the lagged state for triage
    reg = [r for r in out if r.rule == "ts_regression"][0]
    assert reg.prev_state == "tool"


def test_sequence_violations_row_can_violate_twice(spark):
    df = spark.createDataFrame(
        [
            ("x", 0, "system", _ts(0)),
            ("x", 1, "system", _ts(-5)),  # bad transition AND ts regression
        ],
        "conv_id string, turn_idx int, role string, ts timestamp",
    )
    out = sequence_violations(
        df, "conv_id", "role", "ts", ["turn_idx"], GRAMMAR, FIRST
    ).collect()
    assert sorted(r.rule for r in out) == ["transition", "ts_regression"]
    assert {r.turn_idx for r in out} == {1}


def test_reindex_turns_repairs_gaps_and_dups(seq_df):
    from cerberus_spark.checks.sequence import reindex_turns

    out = reindex_turns(seq_df, "conv_id", ["turn_idx", "ts"]).collect()
    b = sorted(
        (r.turn_idx, r.turn_idx_fixed) for r in out if r.conv_id == "b"
    )
    # {0,1,3,3,4} -> dense 0..4, dup idx-3 rows split by ts order
    assert b == [(0, 0), (1, 1), (3, 2), (3, 3), (4, 4)]
    c = sorted(r.turn_idx_fixed for r in out if r.conv_id == "c")
    assert c == [0, 1]
    # repaired index passes the contiguity check it pairs with
    fixed = reindex_turns(seq_df, "conv_id", ["turn_idx", "ts"])
    assert contiguity_violations(fixed, "conv_id", "turn_idx_fixed").count() == 0


def test_contiguity_is_one_partial_agg_shuffle(spark):
    df = spark.range(1000).select(
        (F.col("id") % 50).alias("conv"), (F.col("id") % 20).alias("idx")
    )
    plan = (
        contiguity_report(df, "conv", "idx")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # distinct agg = 2-phase
    assert "partial" in plan.lower(), plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_sequence_violations_is_one_window_shuffle(spark):
    df = spark.createDataFrame(
        [("a", 0, "system", _ts(0))],
        "conv_id string, turn_idx int, role string, ts timestamp",
    )
    plan = (
        sequence_violations(df, "conv_id", "role", "ts", ["turn_idx"], GRAMMAR, FIRST)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan and "Join" not in plan, plan


def test_conversation_report_hand_checked(spark, seq_df):
    """Composite per-conversation gate: counts must equal the
    underlying contiguity/sequence operators on the pathology fixture;
    only the clean conversation keeps."""
    from cerberus_spark.checks.sequence import conversation_report

    rep = {
        r.conv: r
        for r in conversation_report(
            seq_df, "conv_id", "turn_idx", "role", "ts",
            ["turn_idx", "ts"], GRAMMAR, FIRST,
        ).collect()
    }
    a, b, c = rep["a"], rep["b"], rep["c"]
    assert a.keep and a.n_turns == 4 and a.n_missing == 0
    # b: gap at idx 2, dup idx 3, ts regression, bad first, 1 bad
    # transition (user->user; order is by (turn_idx, ts))
    assert not b.keep
    assert b.n_dup_idx == 1 and b.n_missing == 1
    assert b.n_first_state == 1 and b.n_transition >= 1
    assert b.n_ts_regression == 1
    # c: leading gap (starts at 2) -> missing 0,1; grammar clean
    assert not c.keep and c.n_missing == 2 and c.n_transition == 0


def test_sequence_violations_idx_density_matches_contiguity_report(spark):
    """The idx_col density rules (dup_idx / idx_gap / below_start)
    derived from the ONE window pass must reproduce
    contiguity_report's per-conv counters exactly — leading gaps,
    below-start strays, duplicates, and clean conversations."""
    from cerberus_spark.checks.sequence import contiguity_report, sequence_violations

    rows = [
        # A: clean dense 0..3
        *[("A", i, "user", i) for i in range(4)],
        # B: leading gap (starts at 3) + interior gap (skips 5)
        ("B", 3, "user", 0), ("B", 4, "user", 1), ("B", 6, "user", 2),
        # C: duplicates at 1 (x3) and a gap before 4
        ("C", 0, "user", 0), ("C", 1, "user", 1), ("C", 1, "user", 2),
        ("C", 1, "user", 3), ("C", 4, "user", 4),
        # D: below-start strays (incl. a below-start dup) then 0,1
        ("D", -2, "user", 0), ("D", -2, "user", 1), ("D", -1, "user", 2),
        ("D", 0, "user", 3), ("D", 1, "user", 4),
        # E: entirely below start
        ("E", -5, "user", 0), ("E", -3, "user", 1),
        # F: single row far from start
        ("F", 7, "user", 0),
    ]
    df = spark.createDataFrame(rows, "conv string, idx int, st string, t long")
    allowed = {("user", "user")}
    seq = sequence_violations(
        df, "conv", "st", "t", ["idx", "t"], allowed, idx_col="idx"
    )
    got = {}
    for r in seq.collect():
        d = got.setdefault(r.conv, {"dup": 0, "gap": 0, "below": 0})
        if r.rule == "dup_idx":
            d["dup"] += 1
        elif r.rule == "idx_gap":
            d["gap"] += r.gap_size
        elif r.rule == "below_start":
            d["below"] += 1
    expect = {
        r.conv: {"dup": r.n_dup_idx, "gap": r.n_missing, "below": r.n_below_start}
        for r in contiguity_report(df, "conv", "idx").collect()
    }
    for conv, e in expect.items():
        assert got.get(conv, {"dup": 0, "gap": 0, "below": 0}) == e, (conv, e, got.get(conv))
