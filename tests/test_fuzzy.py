"""Edit-distance-1 fuzzy join: neighborhood math, exactness vs the
quadratic theta join, bucket cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_spark.operators.fuzzy import deletion_neighborhood, edit1_pairs


def test_deletion_neighborhood_values(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    got = df.select(deletion_neighborhood("s").alias("n")).collect()[0].n
    assert set(got) == {"abc", "bc", "ac", "ab"}


def test_edit1_pairs_exact_vs_theta_join(spark):
    rows = [
        (1, "tool_search"),
        (2, "tool_searhc"),   # transposition = distance 2 -> excluded
        (3, "tool_searc"),    # deletion -> 1
        (4, "tool_searchx"),  # insertion -> 1
        (5, "tool_zearch"),   # substitution -> 1
        (6, "unrelated"),
        (7, "tool_search"),   # exact dup, different id -> dist 0
    ]
    df = spark.createDataFrame(rows, "id long, k string")
    got = {
        (r.id_a, r.id_b): r.dist for r in edit1_pairs(df, "id", "k").collect()
    }
    # ground truth: quadratic theta join
    a, b = df.alias("a"), df.alias("b")
    theta = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("d", F.levenshtein(F.col("a.k"), F.col("b.k")))
        .filter("d <= 1")
    )
    want = {(r[0], r[1]): r[2] for r in theta.select("a.id", "b.id", "d").collect()}
    assert got == want
    assert got[(1, 7)] == 0 and got[(1, 3)] == 1 and (1, 2) not in got


def test_edit1_bucket_cap_drops_degenerate(spark):
    # 26 UNIQUE keys whose only shared variant is "aaa" (each is
    # "aaa" + a distinct char): cap 10 drops that bucket entirely
    rows = [(i, "aaa" + chr(97 + i)) for i in range(26)]
    df = spark.createDataFrame(rows, "id long, k string")
    assert edit1_pairs(df, "id", "k", bucket_cap=10).count() == 0
    assert edit1_pairs(df, "id", "k", bucket_cap=100).count() > 0


def test_edit1_min_len_and_nulls(spark):
    df = spark.createDataFrame([(1, "ab"), (2, "ac"), (3, None)], "id long, k string")
    assert edit1_pairs(df, "id", "k", min_len=3).count() == 0


def test_edit1_random_single_edits_always_found(spark):
    """Batch property: apply one random edit (sub/ins/del) to 30 random
    base strings — every (orig, edited) pair must surface.  Seeded RNG,
    ONE Spark job for all examples."""
    import random

    rng = random.Random(7)
    alpha = "abcdefghij"
    rows, expected = [], set()
    for n in range(30):
        base = "".join(rng.choice(alpha) for _ in range(rng.randint(4, 12)))
        pos = rng.randrange(len(base))
        op = rng.choice(["sub", "ins", "del"])
        if op == "sub":
            edited = base[:pos] + rng.choice(alpha.upper()) + base[pos + 1 :]
        elif op == "ins":
            edited = base[:pos] + rng.choice(alpha.upper()) + base[pos:]
        else:
            edited = base[:pos] + base[pos + 1 :]
        ia, ib = 2 * n, 2 * n + 1
        rows += [(ia, f"{n:02d}_" + base), (ib, f"{n:02d}_" + edited)]
        expected.add((ia, ib))
    df = spark.createDataFrame(rows, "id long, k string")
    got = {(r.id_a, r.id_b) for r in edit1_pairs(df, "id", "k", bucket_cap=500).collect()}
    assert expected <= got, expected - got


def test_edit1_pairs_max_len_boundary(spark):
    """A _MAX_LEN-char key and its one-insertion (_MAX_LEN + 1)-char
    neighbor must pair: deletion variants are generated up to
    _MAX_LEN + 1 so the exactness claim holds for every pair whose
    shorter key is <= _MAX_LEN."""
    from cerberus_spark.operators.fuzzy import edit1_pairs

    s64 = "a" * 30 + "b" * 34
    s65 = s64[:30] + "X" + s64[30:]
    s66 = s65[:10] + "Y" + s65[10:]
    df = spark.createDataFrame(
        [(1, s64), (2, s65), (3, s66)], "id long, key string"
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit1_pairs(df, "id", "key", bucket_cap=100).collect()
    }
    # 64<->65 straddles the boundary and must be found; 65<->66 has a
    # 65-char shorter side (> _MAX_LEN) — outside the guarantee and
    # genuinely unmatchable via length-64..65 variants
    assert (1, 2, 1) in got
