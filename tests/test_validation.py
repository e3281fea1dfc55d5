"""Golden end-to-end: deterministic transcripts with injected
violations -> exact expected rows (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_spark.sources.transcripts import generate_transcripts, py_rows
from cerberus_spark.validation import validate
from python_validate import python_validate

N_CONVS = 800

TRANSCRIPT_RULES = {
    "role": {"type": "string", "required": True, "allowed": ["system", "user", "assistant", "tool"]},
    "turn_idx": {"type": "integer", "min": 0, "max": 100000},
    "text": {"type": "string", "required": True, "empty": False, "maxlength": 20000},
    "tool": {"type": "string", "nullable": True, "dependencies": {"role": "tool"}},
    "ts": {"type": "timestamp", "required": True},
}


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, N_CONVS).cache()


@pytest.fixture(scope="module")
def expected_rows():
    return py_rows(N_CONVS)


def test_generator_matches_python_twin(spark, transcripts, expected_rows):
    got = sorted(tuple(r) for r in transcripts.collect())
    exp = sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"].replace(tzinfo=None))
        for r in expected_rows
    )
    assert got == exp


def test_violations_exact(spark, transcripts, expected_rows):
    res = validate(transcripts, TRANSCRIPT_RULES, key_cols=["conv_id", "turn_idx"])
    got = sorted(tuple(r) for r in res.violations().collect())
    exp = sorted(
        (r["conv_id"], r["turn_idx"], f, rule, None if v is None else str(v))
        for r in expected_rows
        for (f, rule, v) in python_validate(r, TRANSCRIPT_RULES)
    )
    assert got == exp
    assert len(exp) > 0  # the fixture must actually exercise the rules


def test_metrics_consistent(spark, transcripts):
    res = validate(transcripts, TRANSCRIPT_RULES, key_cols=["conv_id", "turn_idx"])
    n_failed = res.failed().count()
    assert 0 < n_failed < transcripts.count()
    n_violating_keys = res.violations().select("conv_id", "turn_idx").distinct().count()
    assert n_failed == n_violating_keys


def test_partition_summary_sums(spark, transcripts):
    res = validate(transcripts, TRANSCRIPT_RULES, key_cols=["conv_id", "turn_idx"])
    ps = res.partition_summary().agg(
        F.sum("rows").alias("rows"), F.sum("n_pass").alias("p"), F.sum("n_fail").alias("f")
    ).collect()[0]
    assert ps["rows"] == transcripts.count()
    assert ps["f"] == res.failed().count() > 0


def test_summary_matches_violations(spark, transcripts):
    res = validate(transcripts, TRANSCRIPT_RULES, key_cols=["conv_id", "turn_idx"])
    summary = {(r.field, r.rule): r.n_violations for r in res.summary().collect()}
    manual = (
        res.violations().groupBy("field", "rule").count().collect()
    )
    assert summary == {(r.field, r.rule): r["count"] for r in manual}


def test_parallelism_invariance(spark):
    """Same logical content regardless of partitioning (scaling
    correctness precondition)."""
    a = generate_transcripts(spark, 300, partitions=2)
    b = generate_transcripts(spark, 300, partitions=16)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_allow_unknown_false_flags_extra_columns(spark):
    """Cerberus Validator(allow_unknown=False): fields outside the
    schema invalidate the input — a compile-time schema error in the
    table world (columns are static), with key columns exempt."""
    from cerberus_spark.validation import validate

    df = spark.createDataFrame([(1, "u", "x")], "id long, role string, junk string")
    schema = {"role": {"type": "string"}}
    ok = validate(df, schema, key_cols=["id"])
    assert ok.schema_errors == []
    bad = validate(df, schema, key_cols=["id"], allow_unknown=False)
    assert bad.schema_errors == ["unknown field 'junk'"]
