"""Validation engine: evaluate a compiled rule set over a DataFrame in
one columnar pass and expose violations / summaries / lineage.

The reference funnels every event through a serialized rule cascade
under a global mutex (internal/monitor/monitor.go:197-408, mutex at
:198-199).  Here the rule set compiles to two columns, evaluated
partition-parallel with no shuffle: ``_passed``, the negated OR of the
plain rule predicates, which stays inside whole-stage codegen (a
filter or count on it never builds a struct), and ``_violations``, the
per-rule struct array, whose ``array_compact`` is a higher-order
function and so runs outside codegen — it is built only for the rows
that fail.  Violation rows are the analog of its CommunicationPattern
findings (internal/models/types.go:97-108) and per-partition summaries
are the analog of its periodic stats report (monitor.go:514-584) — but
deterministic and lossless (we do not port its lossy alert channels,
monitor.go:391-394).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cerberus_spark.rules import CompiledRuleSet, compile_schema

VIOLATIONS_COL = "_violations"
PASSED_COL = "_passed"


class ValidationResult:
    """Lazy handle over the annotated DataFrame.

    ``annotated`` = input columns + ``_violations`` (array of
    struct<field,rule,value>) + ``_passed`` boolean.  Everything else
    derives lazily; nothing is collected to the driver except
    histogram-/summary-sized results.
    """

    def __init__(self, annotated: DataFrame, key_cols: list[str], ruleset: CompiledRuleSet):
        self.annotated = annotated
        self.key_cols = key_cols
        self.ruleset = ruleset

    @property
    def schema_errors(self) -> list[str]:
        return self.ruleset.schema_errors

    def violations(self) -> DataFrame:
        """Normalized violation rows: (*keys, field, rule, value).  The
        struct array is built only for the rows that fail."""
        v = F.explode(F.col(VIOLATIONS_COL)).alias("v")
        return (
            self.failed()
            .select(*self.key_cols, v)
            .select(
                *self.key_cols,
                F.col("v.field").alias("field"),
                F.col("v.rule").alias("rule"),
                F.col("v.value").alias("value"),
            )
        )

    def failed(self) -> DataFrame:
        return self.annotated.filter(~F.col(PASSED_COL))

    def summary(self) -> DataFrame:
        """Global (field, rule) violation counts + grand total rows.

        Analog of the reference's Stats rollup (monitor.go:29-38,
        :517-529) — a partial-aggregated groupBy, not a driver loop.
        """
        return (
            self.violations()
            .groupBy("field", "rule")
            .agg(F.count(F.lit(1)).alias("n_violations"))
        )

    def partition_summary(self) -> DataFrame:
        """Per-partition pass/fail + lineage: :func:`partition_summary`
        over the annotated frame."""
        return partition_summary(self.annotated)


def partition_summary(annotated: DataFrame) -> DataFrame:
    """Pass/fail per (partition, input file) of a frame carrying the
    ``_passed`` boolean (``_violations`` is never read):
    ``groupBy(spark_partition_id(), file)``, entirely JVM-side and
    never building the violation structs.

    Partition ids alone are plan-dependent, so each row also carries
    the stable input file path; per-file counts are exact sums even
    when Spark packs several small files into one partition.
    """
    # reuse a pre-captured _file column when the caller tagged the
    # scan already (e.g. checkpoint-resume semi-joins the scan
    # against a file listing — input_file_name() is illegal above a
    # plan with two file sources, so it must be captured below the
    # join and carried through)
    file = F.col("_file") if "_file" in annotated.columns else F.input_file_name()
    return (
        annotated.groupBy(F.spark_partition_id().alias("partition_id"), file.alias("file"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col(PASSED_COL), 1).otherwise(0)).alias("n_pass"),
        )
        .withColumn("n_fail", F.col("rows") - F.col("n_pass"))
    )


def validate(
    df: DataFrame,
    schema: dict[str, dict[str, Any]],
    key_cols: list[str] | None = None,
    update: bool = False,
    require_all: bool = False,
    allow_unknown: bool = True,
) -> ValidationResult:
    """Validate ``df`` against a Cerberus-style ``schema``.

    Entry point analog of the reference's ``TrackEvent`` hot path
    (cmd/cerberus/main.go:209 -> monitor.go:197) minus the mutex: the
    rule set is compiled to Column predicates on the driver and shipped
    inside the plan, never per-row.
    """
    key_cols = key_cols or []
    ruleset = compile_schema(schema, df.schema, update=update, require_all=require_all)
    if not allow_unknown:
        # Cerberus Validator(allow_unknown=False): fields outside the
        # schema invalidate the document.  Columns are compile-time
        # knowledge in a table, so this is a schema error (fail-fast),
        # never per-row work; key columns are exempt (they identify
        # the document, Cerberus documents don't carry their keys).
        for c in df.columns:
            if c not in schema and c not in key_cols:
                ruleset.schema_errors.append(f"unknown field {c!r}")
    structs = ruleset.violation_structs()
    if structs:
        arr = F.array_compact(F.array(*structs))
    else:
        arr = F.array().cast("array<struct<field:string,rule:string,value:string>>")
    annotated = df.withColumn(VIOLATIONS_COL, arr).withColumn(
        PASSED_COL, ~ruleset.any_violated()
    )
    return ValidationResult(annotated, key_cols, ruleset)
