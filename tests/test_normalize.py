"""Cerberus normalization phase: rename → purge_unknown → default →
coerce, compiled to one projection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_spark.normalize import normalize_documents
from cerberus_spark.rules import SchemaError


@pytest.fixture(scope="module")
def raw(spark):
    rows = [
        (1, "  USER ", "42", None),
        (2, None, "x", "extra"),
        (3, "Tool", None, "keepme"),
    ]
    return spark.createDataFrame(rows, "id long, role string, n string, junk string")


def test_default_then_coerce_order(spark, raw):
    out = normalize_documents(
        raw,
        {
            "role": {"default": "USER", "coerce": ["strip", "lower"]},
            "n": {"coerce": "int"},
        },
        keys=("id",),
    )
    got = {r.id: (r.role, r.n) for r in out.collect()}
    # row 2: NULL role -> default 'USER' -> strip+lower -> 'user'
    # (Cerberus order: defaults BEFORE coercion)
    assert got[1] == ("user", 42)
    assert got[2] == ("user", None)  # 'x' fails try_cast -> NULL, not an error
    assert got[3] == ("tool", None)


def test_rename_and_purge_unknown(spark, raw):
    out = normalize_documents(
        raw,
        {"role": {"rename": "speaker", "coerce": "strip"}},
        keys=("id",),
        purge_unknown=True,
    )
    assert out.columns == ["id", "speaker"]
    # default (no purge): unknown columns pass through in input order
    kept = normalize_documents(raw, {"role": {"coerce": "strip"}}, keys=("id",))
    assert kept.columns == ["id", "role", "n", "junk"]


def test_absent_field_needs_default(spark, raw):
    out = normalize_documents(
        raw, {"lang": {"default": "en"}}, keys=("id",)
    )
    assert {r.lang for r in out.collect()} == {"en"}
    with pytest.raises(SchemaError, match="absent from input"):
        normalize_documents(raw, {"lang": {"coerce": "lower"}}, keys=("id",))


def test_unknown_coercer_and_callable_rules_raise(spark, raw):
    with pytest.raises(SchemaError, match="unknown coercer"):
        normalize_documents(raw, {"role": {"coerce": "snake_case"}})
    with pytest.raises(SchemaError, match="unsupported normalization"):
        normalize_documents(raw, {"role": {"rename_handler": "x"}})
