"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (broadcast the query set, codegen'd
dot products via zip_with/aggregate — no Python in the hot path).
Scale path: IVF-style coarse quantization — assign every vector to its
nearest of C centroids once, then search only the probed buckets;
bucket assignment is an equi-join key, so the candidate join shuffles
|n/C × probes| instead of |n × q|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — whole-stage codegen, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k neighbors for every query vector.

    Broadcast the (small) query side into a nested-loop join —
    each corpus partition scans queries locally, no corpus shuffle;
    only the (q × k)-sized ranked result shuffles for the window.
    Output: (query_id, neighbor_id, sim, rk), self-matches excluded,
    deterministic ties (sim desc, neighbor_id asc).

    ``sim`` is ROUNDED (``round_to``) before the ranking window: a
    truncate-at-k on raw doubles followed by any downstream rounded
    re-rank could select a different neighbor set than another engine
    when a rounded tie straddles the k boundary.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_to).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
    assign_round: int = 6,
) -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast centroids).

    (id, bucket) — the IVF index 'coarse quantizer'.  max_by over the
    broadcast-joined scores keeps it one pass, one small shuffle on id.
    The similarity is ROUNDED before the argmax (ties -> smallest
    centroid id) so the assignment is bit-stable across engines and
    float/double arithmetic orders.
    """
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(centroid_id),
        F.round(cosine(F.col(vec_col), F.col(centroid_vec)), assign_round).alias("sim"),
    )
    return scored.groupBy(id_col).agg(
        F.max_by(F.col(centroid_id), F.struct(F.col("sim"), -F.col(centroid_id))).alias("bucket")
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    round_to: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: (id_a, id_b, sim) with
    sim ≥ threshold, id_a < id_b.

    Without ``centroids``: exact all-pairs via broadcast nested-loop —
    correct at corpus sizes where one side broadcasts (the oracle
    path).  With ``centroids``: IVF-bucketed — vectors are
    coarse-quantized once and only same-bucket pairs are scored; the
    pair join becomes an equi-join on bucket (the 100 TB path; recall
    trades off with #centroids exactly as in ivf_topk).

    ``bucket_cap`` (IVF path only) is the same scale guard as
    ``bucket_cap`` in minhash_dup_candidates / df_cap in
    ngram_jaccard_pairs: a degenerate centroid that attracts d
    near-identical vectors — a boilerplate/templated corpus — makes
    the bucket self-join emit d·(d−1)/2 pairs from ONE bucket,
    quadratic skew no partitioning fixes.  With a cap, buckets larger
    than ``bucket_cap`` are dropped whole BEFORE the pair join; the
    bucket census is |centroids| rows, so the guard costs one
    broadcast-joined count, no extra corpus shuffle.  Dropped buckets
    mean dropped recall for the vectors inside them — callers wanting
    that population can re-shard the hot bucket with finer centroids.
    """
    # precompute norms ONCE per vector: per-pair cosine() would walk
    # each array 3x (dot + 2 norms) in interpreted HOF eval — on an
    # n^2 pair join that triples the dominant cost
    base = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    if centroids is None:
        joined = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    else:
        assign = ivf_assign(vectors, centroids, id_col, vec_col)
        if bucket_cap is not None:
            ok = (
                assign.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("_bsz"))
                .filter(F.col("_bsz") <= bucket_cap)
                .select("bucket")
            )
            assign = assign.join(F.broadcast(ok), "bucket")
        a = a.join(assign.withColumnRenamed(id_col, "id_a"), "id_a")
        b = b.join(assign.withColumnRenamed(id_col, "id_b"), "id_b")
        joined = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_to
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def ivf_probe_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
    probes: int = 1,
    assign_round: int = 6,
) -> DataFrame:
    """(id, bucket) rows for each vector's ``probes`` NEAREST centroids
    (one row per probe) — the multi-probe side of an IVF search.
    Multi-probe is the standard recall knob: a query near a Voronoi
    boundary misses neighbors assigned to the adjacent centroid with
    probes=1; probing the top-p buckets recovers them while the
    candidate join stays an equi-join with p× the candidates (vs
    |corpus| for brute force).  Rounded sims + total tiebreak keep the
    probe set engine-stable, exactly as :func:`ivf_assign`.
    """
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(centroid_id),
        F.round(cosine(F.col(vec_col), F.col(centroid_vec)), assign_round).alias("sim"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col(centroid_id).asc()
    )
    return (
        scored.withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= probes)
        .select(id_col, F.col(centroid_id).alias("bucket"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 4,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: search the query's ``probes`` nearest
    centroid buckets (default 1).  Recall trades off with #centroids
    and back up with ``probes``; the candidate join stays an equi-join
    on bucket — shuffle-light at scale.  Corpus vectors keep their
    single nearest-centroid assignment (the index layout); only the
    QUERY side fans out, so candidates grow ~probes× the bucket size,
    and because each corpus vector lives in exactly ONE bucket a
    (query, neighbor) pair can never appear twice — no dedup needed
    before ranking.

    As in :func:`cosine_topk`, ``sim`` is rounded before the ranking
    window so the truncation at k is bit-stable across engines."""
    c_assign = ivf_assign(corpus, centroids, id_col, vec_col)
    q_assign = ivf_probe_assign(queries, centroids, id_col, vec_col, probes=probes)
    c = corpus.join(c_assign, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "bucket"
    )
    q = queries.join(q_assign, id_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "bucket"
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_to).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
