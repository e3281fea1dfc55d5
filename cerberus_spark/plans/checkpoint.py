"""Checkpoint/resume via an audit log of completed work units.

The reference persists its whole state cache every 30 s in one KV
transaction and recovers by read-through (internal/monitor/
monitor.go:410-429, :265-276) — but loses its dedup state across
restarts (SeenPatterns is JSON-excluded, internal/models/types.go:137).
Our audit is lossless: each completed work unit (an input file / an
Iceberg partition) gets a row; resume = anti-join pending units against
the audit table.  With Iceberg jars present the same class writes
`MERGE INTO`-style via append + latest-wins dedup on read; with plain
parquet (this container) it appends run-stamped files — both are
idempotent because readers dedup on (run_id, unit).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cerberus_spark.sources.tables import local_table

AUDIT_SCHEMA = (
    "run_id string, unit string, rows long, n_pass long, n_fail long, "
    "finished_ts timestamp, status string"
)


class AuditLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        # local/dbfs path check; on a cluster use the catalog instead
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        if not self._exists():
            return local_table(self.spark, [], AUDIT_SCHEMA)
        return self.spark.read.parquet(self.path)

    def completed_units(self) -> DataFrame:
        """Distinct units with status='done' (latest-wins)."""
        return (
            self.read()
            .filter(F.col("status") == "done")
            .select("unit")
            .distinct()
        )

    def pending(self, units: DataFrame, unit_col: str = "unit") -> DataFrame:
        """Anti-join: units not yet completed.  The audit side is small
        (one row per work unit, not per data row) -> broadcast."""
        done = self.completed_units().withColumnRenamed("unit", unit_col)
        return units.join(F.broadcast(done), on=unit_col, how="left_anti")

    def record(self, summary: DataFrame, run_id: str | None = None) -> str:
        """Append per-unit completion rows.  ``summary`` must have
        (unit, rows, n_pass, n_fail) columns."""
        run_id = run_id or uuid.uuid4().hex
        out = summary.select(
            F.lit(run_id).alias("run_id"),
            F.col("unit").cast("string"),
            F.col("rows").cast("long"),
            F.col("n_pass").cast("long"),
            F.col("n_fail").cast("long"),
            F.current_timestamp().alias("finished_ts"),
            F.lit("done").alias("status"),
        )
        out.write.mode("append").parquet(self.path)
        return run_id


def normalize_unit(col: F.Column) -> F.Column:
    """Canonical unit id for a file path.  ``binaryFile`` yields
    ``file:/p`` while ``input_file_name()`` yields ``file:///p`` —
    strip the scheme so audit keys match regardless of producer."""
    return F.regexp_replace(col, "^[a-z0-9]+:/+", "/")


def input_units(df_path_glob: str, spark: SparkSession) -> DataFrame:
    """Work units = input files (stable split identifiers).

    ``unit`` is the scheme-stripped canonical id used as the audit join
    key; ``path`` keeps the ORIGINAL URI (scheme + authority intact) so
    callers that need to re-read a unit target the right filesystem —
    normalizing 's3a://bucket/key' to '/bucket/key' is fine for a key,
    wrong for a read."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(df_path_glob)
        .select(
            normalize_unit(F.col("path")).alias("unit"),
            F.col("path").alias("path"),
        )
    )
    return files
