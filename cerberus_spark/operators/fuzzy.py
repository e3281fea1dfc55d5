"""Fuzzy (edit-distance ≤ 1) self-join on string keys via deletion
neighborhoods (the FastSS scheme).

A naive fuzzy match is a theta join ``levenshtein(a, b) <= 1`` — a
quadratic nested-loop no optimizer can save.  The scale formulation:
two strings within edit distance 1 share an element of their
1-deletion neighborhoods ``N(s) = {s} ∪ {s minus one char}`` —
substitution meets at the both-sides deletion, insertion/deletion at
the shorter string itself.  So candidates come from ONE equi-join
(shuffle keyed on the neighborhood variant, |N(s)| = len(s)+1 rows per
key — bounded expansion, not quadratic), and the exact ``levenshtein``
check then removes the neighborhood false positives (e.g. "ab"/"ba"
share "a" but are distance 2) — candidates are a strict superset, so
the verified result EXACTLY equals the theta join for every pair whose
shorter key is at most ``_MAX_LEN`` (64) chars (deletion variants are
generated up to ``_MAX_LEN + 1`` so boundary-straddling insertion pairs
are covered; pairs of two longer keys are only guaranteed at dist 0).

Reference analog: none (the reference matches keys exactly); this is
the dirty-keys companion of the dedup family — near-identical tool
names, user ids with one typo — at dimension-table or corpus scale.

Buckets: a variant shared by many keys ("", single chars, hot
prefixes of short strings) explodes quadratically inside its bucket —
the same degenerate-bucket risk as every LSH family here, capped the
same way (drop buckets over ``bucket_cap`` BEFORE pair generation;
short strings are the pathological case, filter them with
``min_len``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: longest shorter key the edit-1 join is exact for
_MAX_LEN = 64


def deletion_neighborhood(col):
    """Array of 1-deletion variants of ``col`` plus ``col`` itself.
    Deletions are generated for strings up to ``_MAX_LEN + 1`` chars so
    the exactness guarantee covers every pair whose SHORTER key is
    ≤ ``_MAX_LEN`` — including a ``_MAX_LEN``-char key and its
    one-insertion ``_MAX_LEN + 1``-char neighbor, which would otherwise
    share no variant (the longer side contributing only itself).
    Strings beyond ``_MAX_LEN + 1`` contribute only themselves (still
    exact for dist-0; a length-1 edit on a very long key is better
    caught by winnowing).  Pure Catalyst: transform over a position
    sequence, no UDF."""
    s = F.col(col) if isinstance(col, str) else col
    dels = F.when(
        F.length(s) <= _MAX_LEN + 1,
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s))
            ),
        ),
    ).otherwise(F.array())
    return F.array_distinct(F.concat(F.array(s), dels))


def edit1_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    min_len: int = 3,
    bucket_cap: int = 50,
) -> DataFrame:
    """(id_a, id_b, key_a, key_b, dist) for distinct-id pairs whose
    keys are within edit distance 1 (dist 0 = exact duplicates of
    DIFFERENT ids, dist 1 = one typo).  Keys shorter than ``min_len``
    are skipped; variant buckets larger than ``bucket_cap`` are
    dropped whole before pair generation."""
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_key"))
        .filter(F.col("_key").isNotNull() & (F.length("_key") >= min_len))
    )
    exploded = base.select(
        "_id", "_key", F.explode(deletion_neighborhood(F.col("_key"))).alias("_v")
    )
    buckets = (
        exploded.groupBy("_v")
        .agg(F.sort_array(F.collect_set(F.struct("_id", "_key"))).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= bucket_cap))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("ms") - 2),
                    lambda i: F.transform(
                        F.slice(F.col("ms"), i + 2, F.size("ms")),
                        lambda y: F.struct(
                            F.element_at(F.col("ms"), i + 1).alias("a"),
                            y.alias("b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(
        F.col("p.a._id").alias("id_a"),
        F.col("p.b._id").alias("id_b"),
        F.col("p.a._key").alias("key_a"),
        F.col("p.b._key").alias("key_b"),
    )
    # a pair can surface from several shared variants -> distinct; the
    # exact check removes neighborhood false positives ("ab" vs "ba")
    return (
        pairs.filter(F.col("id_a") != F.col("id_b"))
        .distinct()
        .withColumn("dist", F.levenshtein("key_a", "key_b"))
        .filter(F.col("dist") <= 1)
    )
