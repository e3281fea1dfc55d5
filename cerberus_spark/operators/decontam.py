"""Benchmark decontamination: flag training documents that share
word n-grams with a held-out evaluation set.

Training pipelines must drop (or at least report) training documents
that overlap the eval benchmarks, or downstream eval scores are
contaminated.  The standard test is k-word n-gram overlap (the
GPT-3/PaLM decontamination rule): a training doc is contaminated when
at least one of its k-shingles also appears in any eval document.

Scale shape (the eval set is small by construction — benchmarks are
thousands of docs, the corpus is billions):

  eval:  explode k-shingles -> md5 hash -> distinct   (tiny)
  train: explode k-shingles -> md5 hash
         -> LEFT join against BROADCAST eval-shingle set (map-side,
            no shuffle of the exploded corpus)
         -> groupBy(doc_id) hit count (ONE shuffle, partial-agg'd
            map-side down to |docs| rows)

Nothing about the corpus side is collected or shuffled beyond the
final per-doc rollup; the eval shingle set is the only broadcast.
Reference analog: the threat-list membership join
(internal/monitor/monitor.go:318-335) — same broadcast-lookup shape,
applied to n-grams instead of ports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cerberus_spark.operators.dedup import md5_i64, word_shingles


def eval_shingle_set(eval_df: DataFrame, text_col: str, shingle_k: int = 3) -> DataFrame:
    """Distinct md5-hashed k-shingles of the eval set: one column
    ``_shh`` (long).  Small enough to broadcast by construction."""
    return (
        eval_df.select(
            F.explode(word_shingles(F.col(text_col), shingle_k)).alias("_sh")
        )
        .select(md5_i64(F.col("_sh")).alias("_shh"))
        .distinct()
    )


def contamination_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-train-doc eval overlap: (id, n_shingles, n_contaminated,
    contam_milli) for every training doc sharing >= 1 k-shingle with
    the eval set.

    ``contam_milli`` is the integer permille of the doc's distinct
    shingles found in the eval set (integer-floored — engine-portable,
    no float drift).  Docs with zero overlap are not emitted (filter
    them out of training by anti-joining on this report's ids).
    """
    sh = word_shingles(F.col(text_col), shingle_k)
    ev = eval_shingle_set(eval_df, text_col, shingle_k).withColumn("_hit", F.lit(1))
    # explode ONCE and recover the per-doc shingle count in the rollup:
    # word_shingles is an interpreted higher-order expression, and a
    # second consumer (F.size) would make CollapseProject evaluate it
    # twice per row (measured ~2x on the corpus scan).  Shingles are
    # distinct per doc, so count(*) per doc == size of the array.
    train = df.select(
        F.col(id_col),
        F.explode(sh).alias("_sh"),
    ).withColumn("_shh", md5_i64(F.col("_sh")))
    return (
        train.join(F.broadcast(ev), "_shh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .withColumn(
            "contam_milli",
            F.floor(F.lit(1000) * F.col("n_contaminated") / F.col("n_shingles")).cast(
                "long"
            ),
        )
    )
