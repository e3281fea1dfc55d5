"""Winnowing substring fingerprints: the collision guarantee, both hash
methods, short-doc edge cases, bucket cap."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cerberus_spark.operators.winnow import (
    _md5_gram_hashes,
    _poly_gram_hashes,
    _winnow_values,
    winnow_candidates,
    winnow_fingerprints,
)

G, W = 8, 4  # small params so tests run on short strings


def _fps(text: str, method: str = "poly") -> set[int]:
    fn = _poly_gram_hashes if method == "poly" else _md5_gram_hashes
    return set(int(v) for v in _winnow_values(fn(text, G), W))


def test_poly_hashes_match_naive():
    text = "abcdefghij"
    h = _poly_gram_hashes(text, 3)
    assert len(h) == 8
    B = np.uint64(1099511628211)
    for i in range(8):
        acc = np.uint64(0)
        with np.errstate(over="ignore"):
            for ch in text[i : i + 3]:
                acc = acc * B + np.uint64(ord(ch))
        assert h[i] == acc


def test_winnow_values_match_naive_window_minima():
    rng = np.random.default_rng(7)
    h = rng.integers(0, 2**60, size=50).astype(np.uint64)
    got = _winnow_values(h, W)
    want = np.unique([h[i : i + W].min() for i in range(len(h) - W + 1)])
    assert np.array_equal(got, want)


def test_short_inputs():
    # shorter than one gram: nothing
    assert _fps("abc") == set()
    # >= g chars but fewer than w grams: single global minimum
    h = _poly_gram_hashes("abcdefghi", G)  # 2 grams < W
    assert len(_winnow_values(h, W)) == 1
    assert _winnow_values(h, W)[0] == h.min()


@settings(max_examples=30, deadline=None)
@given(
    st.text(alphabet="abcdef", min_size=0, max_size=40),
    st.text(alphabet="abcdef", min_size=0, max_size=40),
    st.text(alphabet="ghijkl", min_size=G + W - 1, max_size=60),
)
def test_guarantee_shared_run_collides(pre, post, run):
    """Any shared verbatim run of >= g+w-1 chars yields a shared
    fingerprint value — for BOTH hash methods."""
    a = pre + run + post
    b = "zzzz" + run + "qqqq"
    for method in ("poly", "md5"):
        assert _fps(a, method) & _fps(b, method), method


def test_disjoint_alphabets_never_collide():
    a = "the quick brown fox jumps over the lazy dog again and again"
    b = "ZXQWVKJHGFDZXQWVKJHGFDZXQWVKJHGFDZXQWVKJHGFD"
    assert not (_fps(a) & _fps(b))


@pytest.fixture(scope="module")
def wdocs(spark):
    run = "a shared verbatim run long enough to fingerprint"
    rows = [
        (0, "first document prefix " + run + " first suffix text here"),
        (1, "second doc other lead " + run + " second tail words"),
        (2, "entirely unrelated content with no overlap at all in words"),
        (3, None),
        (4, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("method", ["poly", "md5"])
def test_spark_end_to_end(wdocs, method):
    fps = winnow_fingerprints(wdocs, "text", "doc_id", g=G, w=W, method=method)
    pairs = winnow_candidates(fps, "doc_id").collect()
    keys = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in keys
    assert all(2 not in k and 3 not in k and 4 not in k for k in keys)
    # fingerprints are distinct per doc
    pdf = fps.groupBy("doc_id", "fp").count().filter("count > 1")
    assert pdf.count() == 0


def test_bucket_cap_drops_degenerate_bucket(spark):
    # 30 identical docs: every fingerprint bucket has 30 members ->
    # cap 10 drops them all; without a cap, 435 pairs explode
    rows = [(i, "identical boilerplate text repeated across the corpus") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "text", "doc_id", g=G, w=W)
    assert winnow_candidates(fps, "doc_id", bucket_cap=10).count() == 0
    assert winnow_candidates(fps, "doc_id").count() == 30 * 29 // 2


def test_remove_shared_spans_cuts_planted_run(spark):
    from cerberus_spark.operators.winnow import remove_shared_spans

    # boundary chars chosen so nothing adjacent to the run is shared —
    # SequenceMatcher cuts the MAXIMAL shared block, so incidental
    # boundary overlap would widen the cut
    run = "S" * 60  # planted shared run, above min_run
    docs = spark.createDataFrame(
        [
            (1, "alphaX" + run + "Yomega"),
            (2, "leadP" + run + "Qend"),
            (3, "untouched bystander document"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = {r.doc_id: r for r in remove_shared_spans(docs, pairs, "text", "doc_id", min_run=50).collect()}
    # lower id keeps its copy
    assert run in out[1].text and out[1].n_cut_chars == 0
    # higher id loses exactly the shared run
    assert run not in out[2].text
    assert out[2].text == "leadPQend"
    assert out[2].n_cut_chars == 60
    # bystander untouched
    assert out[3].text == "untouched bystander document" and out[3].n_cut_chars == 0


def test_remove_shared_spans_below_min_run_untouched(spark):
    from cerberus_spark.operators.winnow import remove_shared_spans

    shared = "short shared bit"
    docs = spark.createDataFrame(
        [(1, "aa " + shared + " bb"), (2, "cc " + shared + " dd")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = {r.doc_id: r.text for r in remove_shared_spans(docs, pairs, "text", "doc_id", min_run=50).collect()}
    assert out[2] == "cc " + shared + " dd"


def test_remove_shared_spans_merges_multiple_partners(spark):
    from cerberus_spark.operators.winnow import remove_shared_spans

    r1, r2 = "A" * 55, "B" * 55
    docs = spark.createDataFrame(
        [
            (1, "x" + r1 + "y"),
            (2, "p" + r2 + "q"),
            (3, "0" + r1 + "1" + r2 + "2"),  # boundary chars all distinct
            (4, "untouched bystander document"),
            (5, None),                        # a NULL-text victim
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 3), (2, 3), (4, 5)], "id_a long, id_b long")
    out = {r.doc_id: r for r in remove_shared_spans(docs, pairs, "text", "doc_id", min_run=50).collect()}
    assert out[3].text == "012"
    assert out[3].n_cut_chars == 110
    assert out[1].n_cut_chars == 0 and out[2].n_cut_chars == 0
    assert (out[4].text, out[4].n_cut_chars) == ("untouched bystander document", 0)
    assert (out[5].text, out[5].n_cut_chars) == (None, 0)


def test_remove_shared_spans_end_to_end_with_candidates(spark):
    """Full winnow pipeline: fingerprints -> capped candidates -> span
    removal; the planted run survives in the keeper only."""
    from cerberus_spark.operators.winnow import (
        remove_shared_spans,
        winnow_candidates,
        winnow_fingerprints,
    )

    run = "the exact duplicated span payload goes right here!"
    docs = spark.createDataFrame(
        [
            (10, "first document intro " + run + " and a closing"),
            (20, "second doc opening " + run + " plus an ending"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, "text", "doc_id", g=G, w=W)
    pairs = winnow_candidates(fps, "doc_id")
    out = {r.doc_id: r.text for r in remove_shared_spans(docs, pairs, "text", "doc_id", min_run=40).collect()}
    assert run in out[10] and run not in out[20]


def _merge_naive(intervals):
    """The remove_shared_spans cut() merge, verbatim semantics."""
    if not intervals:
        return []
    intervals = sorted(intervals)
    merged = [list(intervals[0])]
    for lo, hi in intervals[1:]:
        if lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [tuple(m) for m in merged]


@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(1, 25)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=15, deadline=None)
def test_merge_intervals_matches_pandas_merge(spark, raw):
    """The distributed gaps-and-islands merge_intervals must agree with
    the per-victim pandas merge inside remove_shared_spans.cut() on any
    interval multiset (overlapping, touching, nested, duplicated)."""
    from cerberus_spark.operators.winnow import merge_intervals

    iv = [(lo, lo + w) for lo, w in raw]
    df = spark.createDataFrame(
        [("k", lo, hi) for lo, hi in iv], "key string, lo long, hi long"
    )
    got = sorted(
        (r.lo, r.hi) for r in merge_intervals(df, ["key"], "lo", "hi").collect()
    )
    assert got == _merge_naive(iv)


def test_merge_intervals_keys_independent(spark):
    from cerberus_spark.operators.winnow import merge_intervals

    df = spark.createDataFrame(
        [("a", 0, 5), ("a", 5, 9), ("b", 0, 5), ("b", 6, 9)],
        "key string, lo long, hi long",
    )
    rows = {
        (r.key, r.lo, r.hi, r.n_merged)
        for r in merge_intervals(df, ["key"], "lo", "hi").collect()
    }
    # touching merges within a key; the gap in b stays split
    assert rows == {("a", 0, 9, 2), ("b", 0, 5, 1), ("b", 6, 9, 1)}


def test_remove_shared_spans_many_partner_victim(spark):
    """ONE victim paired with hundreds of partners (a boilerplate-heavy
    doc): every partner's copy of the shared run merges into one cut,
    and the partners keep their text."""
    from cerberus_spark.operators.winnow import remove_shared_spans

    run = "Z" * 60
    n_partners = 300
    rows = [(i, f"p{i:03d}<" + run + f">q{i:03d}") for i in range(n_partners)]
    rows.append((n_partners, "HEAD-" + run + "-TAIL"))  # the victim (max id)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(i, n_partners) for i in range(n_partners)], "id_a long, id_b long"
    )
    out = {
        r.doc_id: (r.text, r.n_cut_chars)
        for r in remove_shared_spans(docs, pairs, "text", "doc_id", min_run=50).collect()
    }
    assert out[n_partners] == ("HEAD--TAIL", 60)
    assert out[0] == (rows[0][1], 0)
