"""Sources: testdata table loaders, deterministic transcript
generation, tool catalog."""

from cerberus_spark.sources.tables import load_table, TABLES
from cerberus_spark.sources.transcripts import generate_transcripts, TRANSCRIPT_SCHEMA
from cerberus_spark.sources.catalog import tool_catalog, TOOLS

__all__ = [
    "load_table",
    "TABLES",
    "generate_transcripts",
    "TRANSCRIPT_SCHEMA",
    "tool_catalog",
    "TOOLS",
]
