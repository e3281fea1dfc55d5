"""Property-based statistics for the deterministic samplers: split
fractions obey a law-of-large-numbers bound for arbitrary split dicts,
and leak-safe splitting never separates a duplicate cluster — for ANY
cluster map, not just the fixtures in test_training_ops."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cerberus_spark.operators.sample import hash_split, leak_safe_split


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@st.composite
def split_dicts(draw):
    """2-4 named fractions, 0.01 resolution, summing to exactly 1.0."""
    n = draw(st.integers(min_value=2, max_value=4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=99),
                min_size=n - 1,
                max_size=n - 1,
                unique=True,
            )
        )
    )
    bounds = [0] + cuts + [100]
    fracs = [(bounds[i + 1] - bounds[i]) / 100 for i in range(n)]
    return {f"s{i}": f for i, f in enumerate(fracs)}


N_KEYS = 4000


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(splits=split_dicts(), salt=st.sampled_from(["a", "b", "c", "split"]))
def test_hash_split_fractions_converge(_spark, splits, salt):
    """Observed split fractions land within 4.5 sigma of the requested
    ones (binomial LLN bound) for every generated split dict and salt."""
    df = _spark.range(0, N_KEYS).withColumnRenamed("id", "k")
    got = {
        r.split: r.n
        for r in hash_split(df, "k", splits, salt=salt)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sum(got.values()) == N_KEYS  # total partition of the keys
    for name, p in splits.items():
        n_got = got.get(name, 0)
        tol = 4.5 * math.sqrt(p * (1 - p) * N_KEYS) + 1
        assert abs(n_got - p * N_KEYS) <= tol, (name, p, n_got, splits, salt)


@st.composite
def cluster_maps(draw):
    """Random partial cluster assignment over ids 0..199: some ids in
    multi-member clusters, some singletons, some absent from the map."""
    n_clusters = draw(st.integers(min_value=1, max_value=20))
    assignment = draw(
        st.lists(
            st.one_of(st.none(), st.integers(min_value=0, max_value=n_clusters - 1)),
            min_size=200,
            max_size=200,
        )
    )
    return [(i, 1000 + c) for i, c in enumerate(assignment) if c is not None]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(cmap=cluster_maps(), salt=st.sampled_from(["split", "other"]))
def test_leak_safe_split_never_separates_a_cluster(_spark, cmap, salt):
    docs = _spark.range(0, 200).withColumnRenamed("id", "doc_id")
    clusters = _spark.createDataFrame(
        cmap or [(0, 1000)], "id long, cluster_id long"
    )
    out = leak_safe_split(docs, "doc_id", clusters, salt=salt)
    # every cluster maps to exactly one split
    n_mixed = (
        out.select("doc_id", "split")
        .join(clusters.withColumnRenamed("id", "doc_id"), "doc_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert n_mixed == 0
    # and every input row got a split (left join keeps unclustered rows)
    assert out.count() == 200


# ---------------------------------------------------------------------------
# quantile_buckets: Spark == pure-python type-1 twin for arbitrary inputs
# ---------------------------------------------------------------------------


def _twin_buckets(rows, cuts, labels):
    """Pure-python type-1 quantile bucketing twin (ties to earlier
    bucket, NULLs unbucketed and excluded from n)."""
    out = {}
    by_g: dict = {}
    for g, i, s in rows:
        by_g.setdefault(g, []).append((i, s))
    for g, docs in by_g.items():
        ss = sorted(round(s, 6) for _, s in docs if s is not None)
        n = len(ss)
        thr = []
        for q in cuts:
            need = (n * q + 999) // 1000
            thr.append(ss[need - 1] if n else None)
        for i, s in docs:
            if s is None:
                out[i] = None
                continue
            r = round(s, 6)
            lab = labels[-1]
            for t, name in zip(thr, labels):
                if t is not None and r <= t:
                    lab = name
                    break
            out[i] = lab
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    scores=st.lists(
        st.one_of(
            st.none(),
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
            ),
            # force heavy ties: a tiny discrete domain
            st.sampled_from([0.0, 1.0, 1.0000004, 2.5]),
        ),
        min_size=1,
        max_size=60,
    ),
    n_groups=st.integers(min_value=1, max_value=3),
    cuts=st.sampled_from([(333, 667), (500,), (250, 500, 750)]),
)
def test_quantile_buckets_matches_twin_for_arbitrary_scores(
    _spark, scores, n_groups, cuts
):
    from cerberus_spark.operators.sample import quantile_buckets

    labels = tuple(f"b{i}" for i in range(len(cuts) + 1))
    rows = [(f"g{j % n_groups}", j, s) for j, s in enumerate(scores)]
    df = _spark.createDataFrame(rows, "g string, i long, score double")
    got = {
        r.i: r.bucket
        for r in quantile_buckets(
            df, "score", group_col="g", cuts_permille=cuts, labels=labels
        ).collect()
    }
    want = _twin_buckets(rows, cuts, labels)
    assert got == want
