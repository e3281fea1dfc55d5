"""Declared-vs-actual schema validation (evolution-aware).

The reference validates wire formats against compiled-in struct layouts
(fixed-width decode, SURVEY §2.1 S4); the table-world analog is
checking a DataFrame's schema against the DECLARED contract before any
data job runs — catching silent upstream evolution (new columns, type
widening, nullability drift) at plan time instead of as a 3 AM
hash-mismatch.  Pure metadata: no Spark job is launched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from cerberus_spark.rules import SchemaError

#: lossless widenings commonly produced by upstream type promotion
_WIDENINGS: set[tuple[str, str]] = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("date", "timestamp"),
}


def _ddl_to_struct(expected) -> StructType:
    if isinstance(expected, StructType):
        return expected
    return StructType.fromDDL(expected)


def schema_diff(
    actual: StructType | DataFrame,
    expected: StructType | str,
    allow_added: bool = False,
) -> list[dict]:
    """Findings for ``actual`` vs the declared ``expected`` schema
    (StructType or DDL string): one dict per problem with keys
    ``column``, ``kind`` (missing | added | type_mismatch |
    nullability), ``actual``, ``expected``.  Ordered by the expected
    schema's column order (added columns last, in actual order) so
    output is deterministic.

    Lossless promotions (int→bigint, float→double, date→timestamp) are
    accepted; ``allow_added`` tolerates new
    upstream columns.  A declared-nullable column that arrives
    non-nullable is fine; the reverse is a finding.
    """
    if isinstance(actual, DataFrame):
        actual = actual.schema
    exp = _ddl_to_struct(expected)
    act = {f.name: f for f in actual.fields}
    findings: list[dict] = []
    for ef in exp.fields:
        af = act.get(ef.name)
        if af is None:
            findings.append(
                {"column": ef.name, "kind": "missing", "actual": None,
                 "expected": ef.dataType.simpleString()}
            )
            continue
        a_t, e_t = af.dataType.simpleString(), ef.dataType.simpleString()
        if a_t != e_t and (e_t, a_t) not in _WIDENINGS:
            findings.append(
                {"column": ef.name, "kind": "type_mismatch",
                 "actual": a_t, "expected": e_t}
            )
        if af.nullable and not ef.nullable:
            findings.append(
                {"column": ef.name, "kind": "nullability",
                 "actual": "nullable", "expected": "not null"}
            )
    if not allow_added:
        exp_names = {f.name for f in exp.fields}
        for af in actual.fields:
            if af.name not in exp_names:
                findings.append(
                    {"column": af.name, "kind": "added",
                     "actual": af.dataType.simpleString(), "expected": None}
                )
    return findings


def assert_schema(
    actual: StructType | DataFrame,
    expected: StructType | str,
    allow_added: bool = False,
) -> None:
    """Raise :class:`SchemaError` listing every finding (not just the
    first) if ``actual`` violates the declared contract."""
    findings = schema_diff(actual, expected, allow_added)
    if findings:
        lines = "; ".join(
            f"{f['column']}: {f['kind']} (actual={f['actual']}, expected={f['expected']})"
            for f in findings
        )
        raise SchemaError(f"schema contract violated: {lines}")
