"""Referential integrity via broadcast anti-join.

The reference's dimension lookups (OUI vendor, IANA service, threat
table — internal/monitor/monitor.go:488-499,
internal/databases/service.go:414-442) are broadcast hash joins; the
integrity check is the inverse: rows whose foreign key has NO match in
the (small, broadcastable) catalog.  ``left_anti`` + ``F.broadcast``
keeps it a map-side join: no shuffle of the fact table at all.
The validator's violations sink needs no join at all: its catalog is a
fixed literal set, so an orphan there is the row-local predicate
``fk IS NOT NULL AND NOT fk IN (...)`` (``pipeline.all_violations``).
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

