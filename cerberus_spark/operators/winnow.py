"""Substring-level exact-duplicate detection via winnowing fingerprints
(the MOSS scheme; the Spark re-expression of Lee et al. 2022's
"Deduplicating Training Data Makes Language Models Better" substring
pass).

Character-level semantics the word-shingle family can't give: two
documents sharing ANY verbatim character run of at least
``g + w - 1`` characters are GUARANTEED to share a fingerprint —
inside such a run both documents contain ``w`` consecutive identical
g-gram hashes, so at least one full winnowing window has identical
content in both, and its minimum is the same value.  (Value-only
winnowing: we keep the distinct window-minimum VALUES, not their
positions — positions differ between the two documents, values don't,
and candidate generation only needs values.)

Scale shape:
- fingerprint extraction is Arrow `mapInPandas` — rolling hashes and
  sliding-window minima are vectorized NumPy per batch, no shuffle;
- a document's fingerprint count is ~``n_chars / ((w + 1) / 2)``
  distinct values at most — corpus blowup is bounded well below the
  raw gram count;
- candidate generation is the SAME capped-bucket shape as the LSH
  band join (`dedup.py:minhash_dup_candidates`): one shuffle on the
  fingerprint, bucket-local pair explosion, buckets over
  ``bucket_cap`` dropped whole BEFORE pair generation.

Two hash methods, one winnowing implementation:
- ``poly``  — the engine path: Karp-Rabin polynomial rolling hash in
  uint64 wraparound arithmetic, O(g) vectorized passes per batch;
- ``md5``   — the cross-engine path (63-bit md5 prefix per gram,
  `md5_i64` convention) so DuckDB can replay fingerprints exactly;
  slower, used by the oracle gate and available for audits.
The correctness of the guarantee itself is hypothesis-property-tested
(planted shared runs must collide, disjoint alphabets must not).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Karp-Rabin base (odd, large; arithmetic wraps mod 2^64)
_B = 1099511628211


def _codepoints(text: str):
    import numpy as np

    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)


def _poly_gram_hashes(text: str, g: int):
    """uint64 rolling hashes of every g-char gram — O(g) vectorized
    adds over the codepoint array, wraparound multiply."""
    import numpy as np

    c = _codepoints(text)
    n = len(c)
    if n < g:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        acc = np.zeros(n - g + 1, dtype=np.uint64)
        b = np.uint64(_B)
        for j in range(g):  # acc = Σ_j c[i+j] · B^(g-1-j)
            acc = acc * b + c[j : j + n - g + 1]
    return acc


def _md5_gram_hashes(text: str, g: int):
    """63-bit md5-prefix hash per gram (md5_i64 convention — DuckDB:
    ('0x'||substr(md5(substr(text,i,g)),1,15))::BIGINT)."""
    import hashlib

    import numpy as np

    n = len(text)
    if n < g:
        return np.empty(0, dtype=np.int64)
    return np.fromiter(
        (
            int(hashlib.md5(text[i : i + g].encode("utf-8")).hexdigest()[:15], 16)
            for i in range(n - g + 1)
        ),
        dtype=np.int64,
        count=n - g + 1,
    )


def _winnow_values(h, w: int):
    """Distinct window-minimum values.  Fewer grams than one window →
    the single minimum of what exists (mirrored by the clamped
    list_slice in the SQL twin)."""
    import numpy as np

    if len(h) == 0:
        return h
    if len(h) < w:
        return np.asarray([h.min()], dtype=h.dtype)
    from numpy.lib.stride_tricks import sliding_window_view

    return np.unique(sliding_window_view(h, w).min(axis=1))


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    g: int = 24,
    w: int = 8,
    method: str = "poly",
) -> DataFrame:
    """Distinct (id, fp) winnowing fingerprints per document.  Two
    documents sharing a verbatim run of ≥ ``g + w - 1`` chars share at
    least one ``fp``.  Documents shorter than ``g`` emit nothing."""
    import pandas as pd

    hash_fn = _poly_gram_hashes if method == "poly" else _md5_gram_hashes

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue  # empty pandas yields break the Arrow cast
            import numpy as np

            ids, fps = [], []
            for did, text in zip(b[id_col], b[text_col]):
                if text is None:
                    continue
                vals = _winnow_values(hash_fn(text, g), w)
                if vals.dtype == np.uint64:
                    # bit-reinterpret: poly hashes use the full 64 bits
                    vals = vals.view(np.int64)
                ids.extend([did] * len(vals))
                fps.extend(int(v) for v in vals)
            if not ids:
                continue
            yield pd.DataFrame({id_col: ids, "fp": pd.array(fps, dtype="int64")})

    id_t = docs.schema[id_col].dataType.simpleString()
    from cerberus_spark.sources.tables import spread

    return spread(docs.select(id_col, text_col)).mapInPandas(
        compute, schema=f"{id_col} {id_t}, fp long"
    )


def winnow_candidates(
    fps: DataFrame,
    id_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared_fp) for documents sharing any winnowing
    fingerprint — one shuffle on ``fp``, bucket-local pair generation,
    buckets above ``bucket_cap`` dropped whole before pair explosion
    (the LSH df_cap trade: quadratic-skew protection for recall on
    that fingerprint only)."""
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if bucket_cap is not None:
        buckets = buckets.filter(F.size("ids") <= bucket_cap)
    from cerberus_spark.operators.dedup import bucket_pairs

    return bucket_pairs(buckets, "n_shared_fp")


def remove_shared_spans(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    min_run: int = 50,
) -> DataFrame:
    """The substring-REMOVAL step of Lee et al. 2022: for every
    candidate pair, cut from the HIGHER-id document every verbatim run
    of ≥ ``min_run`` chars it shares with the lower-id partner (the
    lower id keeps its copy — same canonical-survivor convention as
    ``dedup_clusters``).  Output: all input columns with ``text_col``
    rewritten, plus ``n_cut_chars``.

    Scale shape: candidate pairs (from :func:`winnow_candidates` —
    already capped and tiny relative to the corpus) are joined to the
    two texts (two hash joins), exact shared runs come from
    SequenceMatcher per pair (quadratic only in DOCUMENT length, never
    corpus size), intervals from multiple partners merge per victim,
    and one final left join rewrites only the affected documents.
    Documents in no pair are untouched and never enter the pair-side
    shuffles.

    The per-victim merge+rewrite is one Arrow ``applyInPandas`` group
    per victim doing blocks+merge+rewrite in one step; the group
    buffers ALL of that victim's partner texts, so a boilerplate-heavy
    victim's group grows with its partner count.

    No SQL oracle by design (SequenceMatcher's block decomposition is
    library-specific; the interval-merge step alone is cross-engine
    proven by the ``merge_intervals`` oracle pair); the guarantee
    tests plant shared runs and check exact cut boundaries instead.
    """
    import pandas as pd

    t = docs.select(F.col(id_col).alias("_jid"), F.col(text_col).alias("_jtext"))
    joined = (
        pairs.select(
            F.least("id_a", "id_b").alias("_keep"),
            F.greatest("id_a", "id_b").alias("_victim"),
        )
        .distinct()
        .join(t.withColumnRenamed("_jid", "_keep").withColumnRenamed("_jtext", "_keep_text"), "_keep")
        .join(t.withColumnRenamed("_jid", "_victim").withColumnRenamed("_jtext", "_victim_text"), "_victim")
    )

    id_t = docs.schema[id_col].dataType.simpleString()
    def cut(pdf: pd.DataFrame) -> pd.DataFrame:
        from difflib import SequenceMatcher

        victim_id = pdf["_victim"].iloc[0]
        text = pdf["_victim_text"].iloc[0]
        intervals: list[tuple[int, int]] = []
        for keep_text in pdf["_keep_text"]:
            if keep_text is None or text is None:
                continue
            sm = SequenceMatcher(None, keep_text, text, autojunk=False)
            for m in sm.get_matching_blocks():
                if m.size >= min_run:
                    intervals.append((m.b, m.b + m.size))
        if not intervals or text is None:
            return pd.DataFrame({"_victim": [victim_id], "_new_text": [text], "n_cut_chars": [0]})
        intervals.sort()
        merged = [list(intervals[0])]
        for lo, hi in intervals[1:]:
            if lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        out, prev = [], 0
        for lo, hi in merged:
            out.append(text[prev:lo])
            prev = hi
        out.append(text[prev:])
        new_text = "".join(out)
        return pd.DataFrame(
            {"_victim": [victim_id], "_new_text": [new_text],
             "n_cut_chars": [len(text) - len(new_text)]}
        )

    cuts = joined.groupBy("_victim").applyInPandas(
        cut, schema=f"_victim {id_t}, _new_text string, n_cut_chars long"
    )
    return (
        docs.join(cuts, docs[id_col] == cuts["_victim"], "left")
        .withColumn(text_col, F.coalesce("_new_text", F.col(text_col)))
        .withColumn("n_cut_chars", F.coalesce("n_cut_chars", F.lit(0)))
        .drop("_victim", "_new_text")
    )


def merge_intervals(
    df: DataFrame,
    key_cols: list[str],
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Merge overlapping-or-touching ``[lo, hi)`` intervals per key —
    the distributed formulation of the interval-merge step inside
    :func:`remove_shared_spans` (where it runs per-victim in pandas
    because each victim's spans already sit in one group).  Exposed as
    a DataFrame operator so span bookkeeping can merge at corpus scale
    and so the step is cross-engine provable (DuckDB twin in the
    ``merge_intervals`` oracle pair).

    Classic gaps-and-islands: ONE shuffle on the key, then two
    partition-local window passes — running max of ``hi`` over
    ``(lo, hi)`` order marks island starts (``lo`` beyond every
    previous ``hi``), a running sum of the marks numbers the islands,
    and a final group-by collapses each island to its envelope.
    Touching intervals (``lo == prev hi``) merge, matching
    ``remove_shared_spans``.  Output: key cols + ``lo``/``hi``
    (envelope) + ``n_merged``.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(lo_col).asc(), F.col(hi_col).asc()
    )
    prev_max = F.max(F.col(hi_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_start = F.when(prev_max.isNull() | (F.col(lo_col) > prev_max), 1).otherwise(0)
    islands = df.withColumn(
        "_island",
        F.sum(is_start).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(*key_cols, "_island")
        .agg(
            F.min(lo_col).alias(lo_col),
            F.max(hi_col).alias(hi_col),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("_island")
    )
