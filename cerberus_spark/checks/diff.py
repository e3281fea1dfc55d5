"""Snapshot diff: row-level change classification between two table
versions (the regression gate for training-data snapshot promotion).

Given an old and a new version of a table and its logical key, classify
every key as ``added`` / ``removed`` / ``changed`` / ``unchanged`` —
the check that catches "the pipeline rewrote history" before a
downstream trains on it.  Reference analog: the monitor's batch upsert
reconciliation (get-or-create + update, internal/monitor/monitor.go
S8/J4); here reconciliation is itself the product.

Scale shape:
- each side is reduced map-side to (key, fingerprint) — the md5 of the
  concatenated non-key columns — so the full-outer join shuffles
  8-byte-ish rows, never the payload;
- one shuffle per side on the key (co-partitioned by the join);
- ``table_diff`` keeps the classification lazy — callers filter
  ``change != 'unchanged'`` and the filter lands before any further
  wide op.

Fingerprint caveat (documented, deliberate): column VALUES are joined
with a 0x1f separator after a null sentinel; md5 collisions are
2^-64-improbable and a collision only misses a ``changed`` row, never
corrupts added/removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: unit-separator — vanishingly unlikely inside real column values
_SEP = "\x1f"
_NULL = "\x00null\x00"


def row_fingerprint(df: DataFrame, exclude: list[str]) -> "F.Column":
    """md5 over all non-key columns in NAME ORDER (so column order
    changes between versions don't read as data changes)."""
    cols = sorted(c for c in df.columns if c not in exclude)
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    return F.md5(F.concat_ws(_SEP, *parts))


def table_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., change) for every key in either version, where
    ``change`` ∈ {added, removed, changed, unchanged}.

    Keys must be unique per version (run the uniqueness check first);
    duplicate keys make the full-outer join fan out.
    """
    o = old.select(*keys, row_fingerprint(old, keys).alias("_fp_old"))
    n = new.select(*keys, row_fingerprint(new, keys).alias("_fp_new"))
    j = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") == F.col("_fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, change.alias("change"))
