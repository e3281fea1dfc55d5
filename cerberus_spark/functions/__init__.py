"""Scalar/columnar function library: text analysis, hashing, multimodal
plumbing."""

from cerberus_spark.functions.text import (
    token_count_ws,
    token_count_bpeish,
    lang_id,
)

__all__ = [
    "token_count_ws",
    "token_count_bpeish",
    "lang_id",
]
