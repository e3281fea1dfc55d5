"""Referential integrity via broadcast anti-join.

The reference's dimension lookups (OUI vendor, IANA service, threat
table — internal/monitor/monitor.go:488-499,
internal/databases/service.go:414-442) are broadcast hash joins; the
integrity check is the inverse: rows whose foreign key has NO match in
the (small, broadcastable) catalog.  ``left_anti`` + ``F.broadcast``
keeps it a map-side join: no shuffle of the fact table at all.
:func:`referential_flag` is the same check as a broadcast LEFT join
that marks orphans in place, for plans that evaluate other checks over
the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def referential_orphans(
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
) -> DataFrame:
    """Fact rows whose non-NULL ``fk`` is absent from ``dim.pk``
    (broadcast anti-join)."""
    return fact.filter(F.col(fk).isNotNull()).join(
        F.broadcast(dim.select(F.col(pk).alias(fk)).distinct()), on=fk, how="left_anti"
    )


def referential_violations(
    fact: DataFrame,
    fk: str,
    dim: DataFrame,
    pk: str,
    key_cols: list[str],
) -> DataFrame:
    """Orphans normalized to violation rows (*keys, field, rule, value)."""
    return referential_orphans(fact, fk, dim, pk).select(
        *key_cols,
        F.lit(fk).alias("field"),
        F.lit("referential").alias("rule"),
        F.col(fk).cast("string").alias("value"),
    )


def referential_flag(
    fact: DataFrame, fk: str, dim: DataFrame, pk: str, flag: str
) -> DataFrame:
    """``fact`` plus a boolean ``flag`` column, True exactly on the rows
    :func:`referential_orphans` returns.  A broadcast LEFT join against
    the distinct dim keys, whose joined key is the match marker (NULL
    where no dim row matched): no fact row is dropped or duplicated, so
    other checks can share the same scan."""
    keys = dim.select(F.col(pk).alias("__ref_pk")).distinct()
    return (
        fact.join(F.broadcast(keys), F.col(fk) == F.col("__ref_pk"), "left")
        .withColumn(flag, F.col(fk).isNotNull() & F.col("__ref_pk").isNull())
        .drop("__ref_pk")
    )
