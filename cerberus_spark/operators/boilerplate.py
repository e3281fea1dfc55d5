"""Corpus-frequency boilerplate removal (C4/RefinedWeb-style line dedup).

A text *unit* (a line, a sentence, a word — anything the caller splits
on) that occurs in more than ``min_groups`` distinct documents is
boilerplate ("Subscribe to our newsletter", canned system prompts in
transcript corpora) and is removed from every document while the rest
of each document keeps its order.  Reference analog: the reference
drops globally-repeated traffic via its threat/port tables
(internal/monitor/monitor.go membership checks); this is the
training-data generalization — WHAT is shared frequency-based
filtering, HOW is Spark-first.

Scale shape (the 100 TB plan):
- hotness count: ONE shuffle of distinct (unit, group) pairs with
  map-side partial aggregation (count_distinct expands then
  partial-aggs; for very wide units pre-hash with md5_i64 the way
  checks/uniqueness.py does);
- the hot set is SMALL by construction (corpus-wide boilerplate) and
  is optionally capped deterministically (top-``cap`` by document
  frequency, ties on unit) — the same guard as the LSH df_cap;
- removal: broadcast LEFT ANTI hash join — the corpus itself never
  shuffles to be filtered;
- reassembly: ONE shuffle on the doc id with order restored from the
  carried position, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_units(
    df: DataFrame,
    unit_col: str,
    group_col: str,
    min_groups: int,
    cap: int | None = None,
) -> DataFrame:
    """(unit, n_groups) for non-empty units present in at least
    ``min_groups`` distinct groups.  ``cap`` keeps only the
    ``cap`` most-frequent units (ties broken on the unit value) so the
    broadcast stays bounded on degenerate corpora."""
    hot = (
        df.filter(F.col(unit_col) != "")
        .groupBy(F.col(unit_col).alias("unit"))
        .agg(F.count_distinct(F.col(group_col)).alias("n_groups"))
        .filter(F.col("n_groups") >= min_groups)
    )
    if cap is not None:
        # TakeOrdered (distributed top-k), deterministic total order
        hot = hot.orderBy(F.col("n_groups").desc(), F.col("unit").asc()).limit(cap)
    return hot


def remove_boilerplate(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int,
    sep: str = "\n",
    cap: int | None = None,
) -> DataFrame:
    """(id, clean_text, n_kept, n_total): every document with its
    corpus-frequent units removed, unit order preserved.

    Documents whose units are ALL boilerplate are dropped entirely
    (nothing remains to emit — the pure-boilerplate case; recover the
    ids with an anti-join on ``id_col`` if you need a tombstone).
    Empty units (consecutive separators) are never counted as hot and
    are kept, so blank-line structure survives line-level cleaning.
    """
    units = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep, -1)).alias("_n_total"),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("_pos", "_unit"),
    )
    hot = hot_units(units, "_unit", id_col, min_docs, cap=cap)
    kept = units.join(
        F.broadcast(hot.select(F.col("unit").alias("_unit"))),
        on="_unit",
        how="left_anti",
    )
    # order restored from the carried position — array_sort on the
    # (pos, unit) struct sorts by pos first; collect_list alone is not
    # order-stable across merges
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_unit"))),
                    lambda s: s["_unit"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
            F.first("_n_total").alias("n_total"),
        )
        .select(id_col, "clean_text", "n_kept", "n_total")
    )
