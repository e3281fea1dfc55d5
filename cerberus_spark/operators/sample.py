"""Deterministic hash-based sampling and dataset splitting.

Training-data pipelines need samples and train/val/test splits that are
(a) reproducible across runs and engines, (b) stable under
repartitioning, and (c) consistent for the same record everywhere —
properties ``df.sample()`` (partition-seeded RNG) does not give.  The
operators here derive the decision purely from a record key via the
engine-portable ``md5_i64`` hash, so membership is a pure function of
the key: no shuffle, no RNG state, embarrassingly parallel, and the
DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cerberus_spark.operators.dedup import md5_i64


def _bucket_10k(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, 10000) from a key column + salt string."""
    return F.pmod(md5_i64(F.concat(key.cast("string"), F.lit(f"|{salt}"))), F.lit(10_000))


def leak_safe_split(
    df: DataFrame,
    key_col: str,
    clusters: DataFrame,
    splits: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Train/val/test split that keeps near-duplicate documents in the
    SAME split (train/test leakage guard): the split is hashed from the
    duplicate-cluster id (``clusters``: (id, cluster_id) from
    ``operators.graph.dedup_clusters``), falling back to the row's own
    key for unclustered rows.  A left join against the (small relative
    to the corpus) cluster map + the same CASE-range assignment as
    :func:`hash_split` — no RNG, stable across engines and runs."""
    cl = clusters.select(F.col("id").alias(key_col), "cluster_id")
    joined = df.join(cl, key_col, "left").withColumn(
        "_split_key", F.coalesce(F.col("cluster_id"), F.col(key_col))
    )
    out = hash_split(joined, "_split_key", splits, salt)
    return out.drop("_split_key")


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling (class rebalancing: keep 100%
    of a rare class, 5% of a dominant one).  Membership is a pure
    md5-bucket filter of the key with a per-class threshold,
    so it is reproducible, shuffle-free, and engine-portable; unlike
    ``df.sampleBy`` there is no RNG and membership survives
    repartitioning."""
    bucket = _bucket_10k(F.col(key_col), salt)
    thr = None
    for name, rate in rates.items():
        t = int(round(rate * 10_000))
        thr = (
            F.when(F.col(strata_col) == name, F.lit(t))
            if thr is None
            else thr.when(F.col(strata_col) == name, F.lit(t))
        )
    thr = (
        thr.otherwise(F.lit(int(round(default_rate * 10_000))))
        if thr is not None
        else F.lit(int(round(default_rate * 10_000)))
    )
    return df.filter(bucket < thr)


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column assigning each row to a named fraction
    (default train/val/test = 0.90/0.05/0.05) by key hash.

    Assignment is a CASE over contiguous hash ranges — a record's split
    never changes when data is added, reshuffled, or re-read, and
    documents and their near-duplicates can be kept in the same split
    by hashing a cluster id instead of the row id.
    """
    splits = splits or {"train": 0.90, "val": 0.05, "test": 0.05}
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1.0, got {total}")
    names = list(splits)
    if len(names) == 1:
        return df.withColumn("split", F.lit(names[0]))
    bucket = _bucket_10k(F.col(key_col), salt)
    expr = None
    upper = 0
    for name in names[:-1]:
        upper += int(round(splits[name] * 10_000))
        expr = (
            F.when(bucket < upper, F.lit(name))
            if expr is None
            else expr.when(bucket < upper, F.lit(name))
        )
    return df.withColumn("split", expr.otherwise(F.lit(names[-1])))


def resample_to_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    targets: dict[str, float],
    salt: str = "mixture",
) -> DataFrame:
    """Deterministically downsample strata toward target mixture
    weights (domain rebalancing: "the trained corpus should be 30%
    code, 50% web, 20% books"), keeping as much data as possible —
    the stratum that is scarcest relative to its target is kept at
    100% and every other stratum is hash-downsampled pro rata.

    For stratum s with n_s of N rows and target weight t_s:

        ratio_s = t_s * N / n_s          (how over-represented target-
        keep_s  = ratio_s / max(ratio)    wise; scarcest stratum = max)
        thr_s   = floor(10000 * keep_s + 0.5)

    The per-stratum counts are a tiny in-plan aggregate joined back by
    BROADCAST (never collected); membership is then the same pure
    md5-bucket filter as :func:`stratified_hash_sample` — no RNG, stable
    across engines/partitionings.  Strata absent from ``targets`` get weight
    0 and are dropped.  Expected kept mixture approaches ``targets``
    up to hash-bucket granularity (1/10000) and stratum exhaustion.
    """
    if not targets:
        raise ValueError("targets must name at least one stratum")
    tgt = None
    for name, w in targets.items():
        tgt = (
            F.when(F.col(strata_col) == name, F.lit(float(w)))
            if tgt is None
            else tgt.when(F.col(strata_col) == name, F.lit(float(w)))
        )
    tgt = tgt.otherwise(F.lit(0.0))
    from pyspark.sql import Window

    # NB: "_N" would silently REPLACE "_n" (Spark names are
    # case-insensitive by default), hence "_tot"
    counts = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_tot", F.sum("_n").over(Window.partitionBy()))
        .withColumn("_ratio", tgt * F.col("_tot") / F.col("_n"))
        .withColumn("_keep", F.col("_ratio") / F.max("_ratio").over(Window.partitionBy()))
        .select(
            strata_col,
            F.floor(F.lit(10_000) * F.col("_keep") + F.lit(0.5)).alias("_thr"),
        )
    )
    bucket = _bucket_10k(F.col(key_col), salt)
    return (
        df.join(F.broadcast(counts), strata_col)
        .filter(bucket < F.col("_thr"))
        .drop("_thr")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per group — the per-domain document
    cap every web-corpus recipe applies so one giant host can't
    dominate the training mix.

    Selection is a DETERMINISTIC pseudo-random rank: rows are ordered
    inside each group by ``md5(id || salt)`` (ties broken by id), so
    the kept subset is an unbiased sample that is stable across runs,
    engines and partitionings — never "first cap by insertion order",
    which at 100 TB means "whatever file order the scan happened to
    produce".

    Scale shape: ONE shuffle keyed on the group; per-task state is one
    group's rows (a group larger than a task's memory spills through
    the sort, it never collects).  Output adds ``group_rank`` (1-based)
    so callers can audit how deep the cap cut.
    """
    from pyspark.sql import Window as W

    rnd = md5_i64(F.concat(F.col(id_col).cast("string"), F.lit("|" + salt)))
    w = W.partitionBy(group_col).orderBy(rnd.asc(), F.col(id_col).asc())
    return (
        df.withColumn("group_rank", F.row_number().over(w))
        .filter(F.col("group_rank") <= F.lit(int(cap)))
    )


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    cuts_permille: tuple[int, ...] = (333, 667),
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    decimals: int = 6,
) -> DataFrame:
    """Assign each row a quantile bucket of ``score_col`` within its
    group — the CCNet head/middle/tail perplexity split (docs are
    bucketed by LM score *within each language*, and downstream recipes
    keep/downsample buckets independently).  Lower score = earlier
    bucket, so with an NLL score ``head`` is the most-fluent slice.

    Deterministic and engine-portable by construction: scores are
    ROUNDED to ``decimals`` first, each threshold is the smallest
    rounded score whose cumulative count reaches ``ceil(n *
    cut/1000)`` (type-1 / lower quantile — pure INTEGER arithmetic,
    no interpolation, so engines cannot diverge on boundary
    membership), and ties at a threshold all land in the earlier
    bucket (documented: bucket sizes are only approximately n/k under
    heavy ties).

    Scale shape: NO data-sized window (an ``ntile`` over
    ``partitionBy(lang)`` would sort each language's 10^11 rows in ONE
    task — the skew killer this avoids).  The histogram groupBy
    reduces to |distinct rounded scores| rows; the cumulative window
    runs over that reduced frame; thresholds reduce to |groups| rows
    and broadcast back onto the scan.  Output adds ``bucket``.
    """
    from pyspark.sql import Window as W

    if len(labels) != len(cuts_permille) + 1:
        raise ValueError("need exactly len(cuts_permille)+1 labels")
    if list(cuts_permille) != sorted(set(cuts_permille)) or not all(
        0 < c < 1000 for c in cuts_permille
    ):
        raise ValueError("cuts_permille must be strictly increasing in (0, 1000)")

    s = F.round(F.col(score_col), decimals)
    grp = [group_col] if group_col else []
    gcols = [F.col(c) for c in grp]

    hist = (
        df.select(*gcols, s.alias("_s"))
        .filter(F.col("_s").isNotNull())  # NULL scores get no bucket and
        # must not count toward n (engines also order NULLs differently)
        .groupBy(*grp, "_s")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    cum_w = (
        W.partitionBy(*grp).orderBy(F.col("_s").asc())
        if grp
        else W.partitionBy().orderBy(F.col("_s").asc())
    )
    cum = hist.withColumn("_cum", F.sum("_cnt").over(cum_w)).withColumn(
        "_n", F.sum("_cnt").over(W.partitionBy(*grp) if grp else W.partitionBy())
    )
    # threshold q = min rounded score with cum >= ceil(n*q/1000); the
    # ceiling is exact integer arithmetic: (n*q + 999) DIV 1000
    thr_aggs = [
        F.min(
            F.when(
                F.col("_cum")
                >= F.expr(f"(_n * {int(q)} + 999) DIV 1000"),
                F.col("_s"),
            )
        ).alias(f"_t{i}")
        for i, q in enumerate(cuts_permille)
    ]
    thresholds = cum.groupBy(*grp).agg(*thr_aggs)

    joined = (
        df.join(F.broadcast(thresholds), on=grp, how="left")
        if grp
        else df.crossJoin(F.broadcast(thresholds))
    )
    bucket = F.when(s <= F.col("_t0"), F.lit(labels[0]))
    for i in range(1, len(cuts_permille)):
        bucket = bucket.when(s <= F.col(f"_t{i}"), F.lit(labels[i]))
    bucket = bucket.otherwise(F.lit(labels[-1]))
    # no bucket for NULL scores, or for rows whose group never formed a
    # histogram (NULL group key: join keys don't match on NULL, and the
    # otherwise-branch would silently file them under the LAST label)
    unbucketable = s.isNull()
    if grp:
        unbucketable = unbucketable | F.col(group_col).isNull()
    bucket = F.when(unbucketable, F.lit(None).cast("string")).otherwise(bucket)
    drop = [f"_t{i}" for i in range(len(cuts_permille))]
    return joined.withColumn("bucket", bucket).drop(*drop)
