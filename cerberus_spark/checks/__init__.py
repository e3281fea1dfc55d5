"""Distributed-only checks: uniqueness, referential integrity, column
stats, distribution drift, sequence structure."""

from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.checks.referential import referential_orphans, referential_violations
from cerberus_spark.checks.stats import column_profile, numeric_quantiles
from cerberus_spark.checks.drift import (
    categorical_histogram,
    numeric_histogram,
    drift_report,
    embedding_drift,
    windowed_categorical_histograms,
    windowed_numeric_histograms,
    windowed_drift_report,
)
from cerberus_spark.checks.diff import row_fingerprint, table_diff
from cerberus_spark.checks.schema_diff import assert_schema, schema_diff
from cerberus_spark.checks.sequence import (
    contiguity_report,
    reindex_turns,
    sequence_violations,
)

__all__ = [
    "uniqueness_violations",
    "contiguity_report",
    "reindex_turns",
    "sequence_violations",
    "referential_orphans",
    "referential_violations",
    "column_profile",
    "numeric_quantiles",
    "categorical_histogram",
    "numeric_histogram",
    "drift_report",
    "embedding_drift",
    "windowed_categorical_histograms",
    "windowed_numeric_histograms",
    "windowed_drift_report",
    "schema_diff",
    "assert_schema",
    "table_diff",
    "row_fingerprint",
]
