"""Similarity search: brute-force cosine vs numpy; IVF bucketing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cerberus_spark.operators.similarity import cosine, cosine_topk, ivf_topk

RNG = np.random.default_rng(42)
N, DIM = 60, 8
VECS = RNG.normal(size=(N, DIM)).astype(np.float32)


@pytest.fixture(scope="module")
def emb_df(spark):
    rows = [(i, VECS[i].tolist()) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def numpy_topk(qi: int, k: int):
    sims = VECS @ VECS[qi] / (np.linalg.norm(VECS, axis=1) * np.linalg.norm(VECS[qi]))
    order = sorted(
        (i for i in range(N) if i != qi), key=lambda i: (-sims[i], i)
    )
    return [(i, float(sims[i])) for i in order[:k]]


def test_cosine_expr(spark, emb_df):
    two = emb_df.filter(F.col("vec_id") < 2).collect()
    a, b = np.array(two[0].embedding), np.array(two[1].embedding)
    expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    got = (
        emb_df.filter(F.col("vec_id") == 0)
        .crossJoin(
            emb_df.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("e2"))
        )
        .select(cosine(F.col("embedding"), F.col("e2")).alias("sim"))
        .first()
        .sim
    )
    assert abs(got - expected) < 1e-6


def test_cosine_topk_matches_numpy(spark, emb_df):
    queries = emb_df.filter(F.col("vec_id") < 3)
    # round_to=9: this test checks raw cosine values against numpy; the
    # default 4dp rounding (cross-engine rank stability) is coarser
    # than the 1e-5 tolerance here
    got = cosine_topk(emb_df, queries, k=5, round_to=9).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rk, r.neighbor_id, r.sim))
    for qi in range(3):
        exp = numpy_topk(qi, 5)
        rows = sorted(by_q[qi])
        assert [n for _, n, _ in rows] == [n for n, _ in exp]
        for (_, _, s), (_, es) in zip(rows, exp):
            assert abs(s - es) < 1e-5


def test_ivf_recall_reasonable(spark, emb_df):
    # centroids = first 4 vectors; probes=1 -> recall < 1 but self-bucket
    # neighbors must all be genuine bucket members
    centroids = spark.createDataFrame(
        [(i, VECS[i].tolist()) for i in range(4)], "centroid_id long, centroid array<float>"
    )
    queries = emb_df.filter(F.col("vec_id") < 3)
    approx = ivf_topk(emb_df, queries, centroids, k=3)
    got = approx.collect()
    assert len(got) > 0
    for r in got:
        assert r.neighbor_id != r.query_id
        assert -1.0 <= r.sim <= 1.0


def test_ivf_neardup_bucket_cap_bounds_degenerate_corpus(spark):
    """1,000 near-identical embeddings (a templated corpus) all land on
    one centroid; uncapped, the bucket self-join emits ~d*(d-1)/2 =
    ~500k pairs from ONE bucket — the exact skew the LSH caps bound.
    With bucket_cap the hot bucket is dropped whole BEFORE the join,
    while pairs in small buckets survive untouched."""
    from cerberus_spark.operators.similarity import cosine_neardup_pairs

    e0 = [1.0, 0.0, 0.0, 0.0]
    e1 = [0.0, 1.0, 0.0, 0.0]
    # 1,000 vectors hugging centroid 0 (distinct tails keep ids unique
    # but cosine ~1), plus 4 vectors hugging centroid 1
    rows = [(i, [1.0, 0.0, 0.001 * (i % 7), 0.0]) for i in range(1000)]
    rows += [(1000 + j, [0.01 * j, 1.0, 0.0, 0.0]) for j in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = spark.createDataFrame(
        [(0, e0), (1, e1)], "centroid_id long, centroid array<float>"
    )
    capped = cosine_neardup_pairs(
        df, threshold=0.9, centroids=centroids, bucket_cap=10
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    # hot bucket (1,000 members) dropped whole: no pair touches it
    assert all(a >= 1000 and b >= 1000 for a, b in pairs)
    # the 4-member bucket (< cap) is untouched: its near-dup pairs survive
    assert (1000, 1001) in pairs
    assert len(pairs) <= 6


def test_ivf_multiprobe_recall_monotone_and_exact_at_full_probe(spark, emb_df):
    """Multi-probe recall vs exact brute force: probing every bucket
    makes IVF EQUAL the exact search (same rounding + tiebreaks — no
    candidate is ever excluded), and recall is monotone in probes."""
    centroids = spark.createDataFrame(
        [(i, VECS[i].tolist()) for i in range(4)],
        "centroid_id long, centroid array<float>",
    )
    queries = emb_df.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb_df, queries, k=3).collect()
    }

    def got(p):
        return {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb_df, queries, centroids, k=3, probes=p).collect()
        }

    r1, r2, r4 = got(1), got(2), got(4)
    assert r4 == exact
    assert len(r1 & exact) <= len(r2 & exact) <= len(r4 & exact)
