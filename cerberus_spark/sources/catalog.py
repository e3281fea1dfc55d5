"""Tool catalog — the engine's referential dimension table (analog of
the reference's OUI / IANA service dimension tables,
internal/databases/mac.go:190-254, service.go:211-361: small, static,
broadcast to every lookup site)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cerberus_spark.sources.tables import local_table

TOOLS: list[tuple[str, str, bool]] = [
    ("search", "retrieval", False),
    ("calculator", "math", False),
    ("python", "code", False),
    ("browser", "retrieval", False),
    ("sql", "code", False),
    ("file_read", "fs", False),
    ("file_write", "fs", False),
    ("legacy_exec", "code", True),
]


def tool_catalog(spark: SparkSession) -> DataFrame:
    return local_table(spark, TOOLS, "tool string, category string, deprecated boolean")
