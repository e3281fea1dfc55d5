"""Corpus-frequency boilerplate removal (operators/boilerplate.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cerberus_spark.operators.boilerplate import hot_units, remove_boilerplate

DOCS = [
    # "SUBSCRIBE" is in 3/4 docs (boilerplate at min_docs=3);
    # "hello" in 2; the rest are unique.  Doc 4 is pure boilerplate.
    ("d1", "SUBSCRIBE\nalpha beta\nhello"),
    ("d2", "gamma\nSUBSCRIBE\nhello"),
    ("d3", "delta\n\nepsilon\nSUBSCRIBE"),
    ("d4", "SUBSCRIBE"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def test_hot_units_counts_distinct_docs(spark):
    units = _docs(spark).select(
        "doc_id", F.explode(F.split("text", "\n", -1)).alias("line")
    )
    hot = {r.unit: r.n_groups for r in hot_units(units, "line", "doc_id", 2).collect()}
    assert hot == {"SUBSCRIBE": 4, "hello": 2}


def test_hot_units_never_counts_empty(spark):
    # d3 has a blank line; '' must not appear even at min_groups=1
    units = _docs(spark).select(
        "doc_id", F.explode(F.split("text", "\n", -1)).alias("line")
    )
    got = {r.unit for r in hot_units(units, "line", "doc_id", 1).collect()}
    assert "" not in got


def test_remove_boilerplate_preserves_order_and_blanks(spark):
    out = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_total)
        for r in remove_boilerplate(_docs(spark), "text", "doc_id", 3).collect()
    }
    assert out["d1"] == ("alpha beta\nhello", 2, 3)
    assert out["d2"] == ("gamma\nhello", 2, 3)
    # blank line survives cleaning (empty units are never hot)
    assert out["d3"] == ("delta\n\nepsilon", 3, 4)
    # d4 was pure boilerplate -> dropped entirely
    assert "d4" not in out


def test_remove_boilerplate_plan_shape(spark):
    """Removal is a broadcast anti-join (the corpus never shuffles to
    be filtered); no SortMergeJoin anywhere in the plan."""
    plan = remove_boilerplate(
        _docs(spark), "text", "doc_id", 3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
