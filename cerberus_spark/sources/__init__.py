"""Sources: contract table names, deterministic transcript
generation, tool catalog."""

from cerberus_spark.sources.tables import TABLES
from cerberus_spark.sources.transcripts import generate_transcripts, TRANSCRIPT_SCHEMA
from cerberus_spark.sources.catalog import tool_catalog, TOOLS

__all__ = [
    "TABLES",
    "generate_transcripts",
    "TRANSCRIPT_SCHEMA",
    "tool_catalog",
    "TOOLS",
]
