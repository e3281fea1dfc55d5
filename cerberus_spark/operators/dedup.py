"""Deduplication operators: first-occurrence, exact, MinHash+LSH,
SimHash, n-gram Jaccard.

First-occurrence dedup is the reference's SeenPatterns semantics
(internal/monitor/monitor.go:370-395: emit a pattern only the first
time a device exhibits it).  The rest are the training-data-pipeline
near-dup family, built entirely from deterministic md5-derived hashes
so results are engine-independent (the DuckDB oracle reproduces them
bit-for-bit; Spark's xxhash64/hash are seeded differently from other
engines, so we never use them for cross-engine-checked results).

Scale notes:
- shingling, MinHash and SimHash are per-row work in one Arrow pass
  (vectorized Python: Catalyst evaluates higher-order array functions
  interpreted, not codegen'd), no shuffle;
- LSH banding turns O(n²) pair generation into a groupBy on band
  signatures — one shuffle whose key cardinality is ~n·bands/row;
- candidate verification joins only within buckets.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# deterministic cross-engine hashing
# ---------------------------------------------------------------------------

def md5_i64(col: Column) -> Column:
    """Stable 63-bit positive int from md5 — reproducible in any engine
    with md5 + hex parse (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def normalize_text(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# Java regex \s (and DuckDB's RE2 \s) is ASCII-only; Python's is
# Unicode-aware.  The vectorized Python passes below must split on the
# SAME set or texts containing U+00A0/U+2028 etc. shingle differently
# than normalize_text and the oracle.
_ASCII_WS = " \t\n\x0b\f\r"
_ASCII_WS_RE = re.compile(f"[{_ASCII_WS}]+")


def _normalize_py(text: str) -> str:
    """Python twin of :func:`normalize_text` (ASCII-whitespace only)."""
    return _ASCII_WS_RE.sub(" ", text.lower()).strip(_ASCII_WS)


def fingerprint(col: Column) -> Column:
    """Exact-dup document fingerprint: md5 of normalized text."""
    return F.md5(normalize_text(col))


# ---------------------------------------------------------------------------
# first-occurrence / exact
# ---------------------------------------------------------------------------

def first_occurrence(
    df: DataFrame, keys: list[str], order_by: list[str]
) -> DataFrame:
    """Keep only the first row per key under a deterministic order —
    the batch analog of SeenPatterns first-sighting alerts
    (monitor.go:370-395), made deterministic (the reference's in-memory
    set is arrival-order dependent).

    Implemented as ``min_by(struct(payload), struct(order))`` — a real
    aggregate with a map-side partial, so only one candidate row per
    key per input partition reaches the shuffle; a window rank would
    shuffle and sort EVERY row to keep one.  ``order_by`` must be a
    total order within each key group (include a unique tiebreak
    column) or the winner is undefined.
    """
    payload = [c for c in df.columns if c not in keys]
    ordk = F.struct(*[F.col(c) for c in order_by])
    agg = df.groupBy(*keys).agg(
        F.min_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("_row")
    )
    unpacked = agg.select(
        *keys, *[F.col(f"_row.{c}").alias(c) for c in payload]
    )
    return unpacked.select(*df.columns)


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates by normalized-text fingerprint:
    (fp, n_docs, keep_id) where keep_id is the smallest id (the
    canonical survivor).  One shuffle on the 128-bit fingerprint."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of normalized text (array<string>).

    Built with higher-order array functions only — evaluated inside
    codegen, no Python.
    """
    words = F.split(normalize_text(col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array()))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: Mersenne prime 2^31−1: a*h+b stays < 2^62, so the arithmetic is
#: overflow-free int64 in EVERY engine (DuckDB raises on bigint
#: overflow; Java silently wraps — we must never rely on either).
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs for the universal hash family
    h_j(x) = (a_j·x + b_j) mod P — fixed constants, identical in the
    Spark plan and the oracle SQL."""
    out = []
    for j in range(num_hashes):
        a = (2_654_435_761 * (j + 1)) % MINHASH_P or 1
        b = (40_503 * (j + 1) + 17) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) — sig[j] = min over shingles of
    (a_j·md5_i64(shingle) + b_j) mod P.

    One md5 per shingle (the expensive op), then ``num_hashes`` cheap
    multiply-add derivations — the classic universal-hash MinHash
    construction, deterministic across engines (md5-derived; never
    Spark-seeded hash/xxhash64).  One Arrow-batched ``mapInPandas``
    pass of :func:`minhash_text_signature` per row; documents with NULL
    text or fewer than ``shingle_k`` words emit no row.  The DuckDB
    minhash_signatures pair replays it in SQL.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from cerberus_spark.sources.tables import spread

    a_vec, b_vec = minhash_coeff_vectors(num_hashes)

    def compute(batches):
        for pdf in batches:
            ids, sigs = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                sig = minhash_text_signature(text, shingle_k, a_vec, b_vec)
                if sig is not None:
                    ids.append(rid)
                    sigs.append(sig)
            if ids:  # empty frames infer float64 cols -> Arrow cast error
                yield pd.DataFrame(
                    {id_col: pd.Series(ids, dtype=object), "sig": pd.Series(sigs, dtype=object)}
                )

    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("sig", T.ArrayType(T.LongType()), False)]
    )
    return spread(df.select(id_col, text_col)).mapInPandas(compute, schema=out_schema)


def minhash_text_signature(
    text: str | None, shingle_k: int, a_vec, b_vec
) -> list[int] | None:
    """MinHash signature of ONE text: :func:`normalize_text`'s
    normalization, distinct ``shingle_k``-word shingles, one md5 each,
    numpy for the (a·h+b) mod P minima (``a_vec``/``b_vec``: int64
    arrays of :func:`minhash_coeffs`).  None for NULL text or fewer
    than ``shingle_k`` words.  The per-row body of
    :func:`minhash_signatures` and of ``clean_corpus``'s fused document
    pass."""
    import numpy as np

    if text is None:
        return None
    words = _normalize_py(text).split(" ")
    if len(words) < shingle_k:
        return None
    shingles = {
        " ".join(words[i : i + shingle_k]) for i in range(len(words) - shingle_k + 1)
    }
    hs = np.fromiter(
        (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P for s in shingles),
        dtype=np.int64,
        count=len(shingles),
    )
    return ((hs[:, None] * a_vec + b_vec) % MINHASH_P).min(axis=0).tolist()


def minhash_coeff_vectors(num_hashes: int):
    """(a_vec, b_vec) int64 arrays of :func:`minhash_coeffs`."""
    import numpy as np

    coeffs = minhash_coeffs(num_hashes)
    return (
        np.array([a for a, _ in coeffs], dtype=np.int64),
        np.array([b for _, b in coeffs], dtype=np.int64),
    )


def minhash_dup_candidates(
    sigs: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH banding: ids sharing any full band of their signature.

    explode bands -> groupBy (band_idx, band_sig) -> emit candidate
    pairs (a<b).  Output: (id_a, id_b, n_bands_shared).  The groupBy
    key is the band signature string — one shuffle, bucket-local pair
    generation (never a global cross join).

    ``bucket_cap`` is the scale guard (same trade as ``df_cap`` in
    :func:`ngram_jaccard_pairs`): a degenerate band signature shared by
    d documents — templated/boilerplate corpora where thousands of
    near-identical docs survive exact dedup — emits d·(d−1)/2 pairs
    from ONE bucket, quadratic skew no partitioning fixes.  With a cap,
    buckets with more than ``bucket_cap`` members are dropped whole
    BEFORE pair generation (zero extra shuffles: the size test rides
    the existing bucket aggregate), bounding every bucket's output at
    cap·(cap−1)/2 pairs.  Dropped buckets mean dropped recall for the
    documents inside them on THAT band only — they still pair through
    their other, non-degenerate bands; callers wanting the dropped
    population can aggregate ``F.size("ids") > cap`` themselves.
    """
    # Loud misconfiguration guard: an out-of-range F.slice returns an
    # EMPTY array, so bands*rows_per_band > len(sig) would silently
    # give every document the same '' band signature — one global
    # bucket, the exact quadratic blowup bucket_cap exists to prevent
    # (simhash_candidates raises on the analogous mistake; so do we,
    # at execution time since the length lives in the data).
    sig_checked = F.when(
        F.size("sig") < bands * rows_per_band,
        F.raise_error(
            F.concat(
                F.lit(
                    "minhash_dup_candidates: bands*rows_per_band "
                    f"({bands}*{rows_per_band}) exceeds signature length "
                ),
                F.size("sig").cast("string"),
            )
        ),
    ).otherwise(F.col("sig"))
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.array_join(
                F.transform(
                    F.slice(sig_checked, b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                "_",
            ).alias("band_sig"),
        )
        for b in range(bands)
    ]
    exploded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, "b.band_idx", "b.band_sig")
    buckets = (
        exploded.groupBy("band_idx", "band_sig")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if bucket_cap is not None:
        buckets = buckets.filter(F.size("ids") <= bucket_cap)
    return bucket_pairs(buckets, "n_bands_shared")


def bucket_pairs(buckets: DataFrame, count_alias: str) -> DataFrame:
    """Bucket-local candidate-pair generation shared by every LSH-shaped
    family (MinHash bands, winnowing fingerprints): given rows with a
    sorted ``ids`` array, emit every in-bucket pair (id_a < id_b by the
    sort) via nested transform+flatten — pure codegen, no join — then
    count how many buckets each pair shares as ``count_alias``."""
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("ids") - 2),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda y: F.struct(
                            F.element_at(F.col("ids"), i + 1).alias("id_a"),
                            y.alias("id_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias(count_alias))


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Exploded (id, n_sh, shingle) rows with shingle = 63-bit md5 of
    each distinct k-word shingle (:func:`minhash_text_signature`'s
    shingling) — Arrow-batched: Catalyst's interpreted higher-order
    functions lose to vectorized Python by ~10x on shingling, and this
    runs the subtree once even when consumed twice by a self-join."""
    import pandas as pd

    id_field = df.schema[id_col]

    def compute(batches):
        for pdf in batches:
            ids, ns, hs = [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = _normalize_py(text).split(" ")
                if len(words) < k:
                    continue
                shingles = {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
                for s in shingles:
                    ids.append(rid)
                    ns.append(len(shingles))
                    hs.append(int(hashlib.md5(s.encode()).hexdigest()[:15], 16))
            if ids:
                yield pd.DataFrame(
                    {
                        "id": pd.Series(ids, dtype=object),
                        "n_sh": pd.Series(ns, dtype="int32"),
                        "shingle": pd.Series(hs, dtype="int64"),
                    }
                )

    from pyspark.sql import types as T

    from cerberus_spark.sources.tables import spread

    out_schema = T.StructType(
        [
            T.StructField("id", id_field.dataType, id_field.nullable),
            T.StructField("n_sh", T.IntegerType(), False),
            T.StructField("shingle", T.LongType(), False),
        ]
    )
    return spread(df.select(id_col, text_col)).mapInPandas(compute, schema=out_schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact Jaccard over k-word shingles for all pairs sharing ≥1
    shingle: (id_a, id_b, jaccard).

    explode shingles -> self-equi-join on shingle -> count shared ->
    |A∪B| = |A|+|B|−shared.  The join key is the 63-bit md5 of the
    shingle, not the string — ~3x less shuffle volume, same pairs (and
    any astronomically-unlikely collision is reproduced identically by
    the oracle, which joins on the same hash).  Only documents with
    overlap ever meet.

    ``df_cap`` (stop-shingle removal) is the scale guard: a shingle
    appearing in d documents contributes d·(d−1)/2 join rows, so ONE
    boilerplate phrase shared by 10⁶ docs at 100 TB produces ~5·10¹¹
    pairs in a single bucket — quadratic skew no partitioning fixes.
    With a cap, shingles with document frequency > df_cap are dropped
    BEFORE the self-join (one extra count-by-shingle pass, same
    shuffle key), bounding every bucket at df_cap·(df_cap−1)/2 rows.
    Jaccard is then computed over the capped shingle sets (sizes are
    recomputed after the drop); documents whose shingles are all hot
    no longer pair — the standard recall trade of stop-word removal.
    """
    # n_sh rides along on every exploded row, so the sizes join
    # disappears: one self-join + one aggregation total
    ex = shingle_hash_rows(df, text_col, id_col, k)
    if df_cap is not None:
        # Explicit shingle-keyed exchange: the consumers below (hot-set
        # agg, anti-join, self-join sides) all need this distribution,
        # so they share identical Exchange subtrees and exchange reuse
        # caps the expensive shingle extraction at ~3 evaluations of the
        # source (measured via accumulator; ~6 without reuse).  At very
        # large scale the further lever is materializing the capped
        # explode once (shuffle-backed checkpoint / persisted table).
        ex = ex.repartition(F.col("shingle"))
        # hot set = shingles with df > cap: tiny relative to the corpus
        # (≤ total_shingle_rows / cap); count agg is partial-combined
        hot = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > df_cap)
            .select("shingle")
        )
        kept = ex.join(hot, "shingle", "left_anti")
        sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("_n"))
        ex = (
            kept.drop("n_sh")
            .join(sizes, "id")
            .withColumnRenamed("_n", "n_sh")
            .select("id", "n_sh", "shingle")
        )
    a = ex.alias("a")
    b = ex.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 2,
    n_bits: int = 60,
) -> DataFrame:
    """(id, simhash) rows: 60-bit (by default, fits md5_i64's range)
    SimHash over distinct word shingles, via Arrow-batched vectorized
    Python.  Bit b of the result is 1 iff Σ_shingles (bit b of
    md5_i64(shingle) ? +1 : −1) > 0; numpy does the ±1 bit-count
    matrix in one shot.  Deterministic and engine-portable
    (md5-based; the DuckDB simhash pair replays it).  Docs with NULL
    text or fewer than ``shingle_k`` words get simhash 0."""
    import pandas as pd

    k = shingle_k
    id_field = df.schema[id_col]

    def compute(batches):
        import numpy as _np

        shifts = _np.arange(n_bits, dtype=_np.int64)
        for pdf in batches:
            ids, out = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    ids.append(rid)
                    out.append(0)
                    continue
                words = _normalize_py(text).split(" ")
                if len(words) < k:
                    ids.append(rid)
                    out.append(0)
                    continue
                shingles = {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}
                hs = _np.fromiter(
                    (
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in shingles
                    ),
                    dtype=_np.int64,
                    count=len(shingles),
                )
                counts = (((hs[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                out.append(int(((counts > 0).astype(_np.int64) << shifts).sum()))
                ids.append(rid)
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(ids, dtype=object),
                        "simhash": pd.Series(out, dtype="int64"),
                    }
                )

    from pyspark.sql import types as T

    from cerberus_spark.sources.tables import spread

    out_schema = T.StructType(
        [id_field, T.StructField("simhash", T.LongType(), False)]
    )
    return spread(df.select(id_col, text_col)).mapInPandas(compute, schema=out_schema)


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two :func:`simhash_rows` values."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 2,
    n_bits: int = 60,
    bands: int = 6,
    max_hamming: int = 5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via banded hamming-neighbor search:
    (id_a, id_b, hamming) with hamming ≤ ``max_hamming``, id_a < id_b.

    The n_bits signature is split into ``bands`` equal chunks; two
    signatures within hamming distance ``bands − 1`` must agree on at
    least one whole band (pigeonhole), so an equi-join on
    (band_idx, band_bits) finds every such pair without an all-pairs
    scan — the same one-shuffle bucket shape as
    :func:`minhash_dup_candidates`.  With the defaults (6 bands of 10
    bits) recall is EXACT for hamming ≤ 5.  Candidates are verified
    with the true hamming distance and deduped per pair.

    Docs with fewer than ``shingle_k`` words are excluded up front:
    their signature would be the all-zero vector and every such doc
    would spuriously pair with every other.

    ``bucket_cap`` bounds the equi-join's per-bucket blowup (the same
    quadratic-skew guard as ``bucket_cap`` in
    :func:`minhash_dup_candidates` and ``df_cap`` in
    :func:`ngram_jaccard_pairs`): band values held by more than
    ``bucket_cap`` signatures — boilerplate corpora collapse thousands
    of near-identical docs onto one band value — are dropped from BOTH
    join sides before pair generation (one extra count aggregate on the
    same (band_idx, band_bits) key + a broadcast-sized anti-join),
    capping each bucket's output at cap·(cap−1)/2.  Dropped buckets
    cost recall only for pairs whose EVERY shared band is degenerate;
    pigeonhole recall stays exact for pairs that also agree on a
    below-cap band.
    """
    if n_bits % bands:
        raise ValueError(f"n_bits={n_bits} not divisible by bands={bands}")
    width = n_bits // bands
    mask = (1 << width) - 1
    words_n = F.size(F.split(normalize_text(F.col(text_col)), " "))
    eligible = df.filter(words_n >= shingle_k)
    sigs = simhash_rows(eligible, text_col, id_col, shingle_k, n_bits).select(
        F.col(id_col).alias("id"), F.col("simhash").alias("sh")
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.shiftright(F.col("sh"), b * width).bitwiseAND(F.lit(mask)).alias("band_bits"),
        )
        for b in range(bands)
    ]
    ex = sigs.select(
        "id", "sh", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", "sh", "b.band_idx", "b.band_bits")
    if bucket_cap is not None:
        # hot set = band values with more than bucket_cap members; tiny
        # (≤ n·bands/cap buckets) so the anti-join broadcasts
        hot = (
            ex.groupBy("band_idx", "band_bits")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > bucket_cap)
            .select("band_idx", "band_bits")
        )
        ex = ex.join(F.broadcast(hot), ["band_idx", "band_bits"], "left_anti")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            simhash_hamming(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        # a pair sharing m bands appears m times; min() is a no-op
        # arithmetically (same pair -> same distance) but dedupes
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# ordered-sequence (conversation-level) exact dedup
# ---------------------------------------------------------------------------

def sequence_fingerprints(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
) -> DataFrame:
    """One md5 fingerprint per ``key_col`` group over the ORDERED
    sequence of ``token_col`` — conversation-level exact dedup: two
    conversations are duplicates iff their full turn sequences are
    identical, which per-turn/per-doc fingerprinting cannot see.

    Each token is HASHED (md5, fixed 32-hex width) before the joined
    render, so a token that happens to contain the separator cannot
    make distinct sequences render identically (['a\\x1fb'] vs
    ['a','b'] fingerprint differently).  Ordering must be TOTAL for a
    deterministic render: pass ``order_cols`` that uniquely order rows
    within a key (e.g. ``[ts, event_id]``); NULL tokens render as ''
    (both engines) before hashing.

    Scale shape: ONE groupBy(key) shuffle; the per-key render is
    array_sort + transform + array_join — codegen, no Python.  The
    aggregation buffer holds one whole conversation's hashed tokens:
    bounded by the key's own payload, right whenever conversation
    length is bounded (the transcript north rule), and the
    contract/oracle shape.
    """
    tok = F.coalesce(F.col(token_col).cast("string"), F.lit("")).alias("__tok")
    order_struct = F.struct(*[F.col(c) for c in order_cols], tok)
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(order_struct)),
            lambda x: F.md5(x["__tok"]),
        ),
        "\x1f",
    )
    return df.groupBy(F.col(key_col).alias("key")).agg(
        md5_i64(seq).alias("seq_fp"),
        F.count(F.lit(1)).alias("n_items"),
    )


def sequence_dup_groups(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
) -> DataFrame:
    """Groups of keys whose ordered token sequences are IDENTICAL:
    (seq_fp, n_keys, n_items, keys) for every fingerprint shared by
    more than one key.  ``keys`` is the sorted comma-joined member
    list (deterministic render, never a raw array).

    Second groupBy shuffles one row per conversation (already
    aggregated), so the dup-group pass costs ~nothing on top of the
    fingerprint pass.
    """
    fps = sequence_fingerprints(df, key_col, order_cols, token_col)
    members = F.sort_array(F.collect_list(F.col("key").cast("string")))
    return (
        fps.groupBy("seq_fp")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min("n_items").alias("n_items"),
            F.array_join(members, ",").alias("keys"),
        )
        .filter(F.col("n_keys") > 1)
    )


# ---------------------------------------------------------------------------
# ordered-sequence (conversation-level) NEAR dedup
# ---------------------------------------------------------------------------

def _sequence_shingle_hashes(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
    shingle_k: int = 2,
) -> DataFrame:
    """(key, __h) — one MINHASH_P-field hash per ordered turn k-gram
    shingle (the shared substrate of :func:`sequence_minhash` and the
    Jaccard verify step).  One lag-window exchange; every downstream
    groupBy(key) reuses its hash(key) partitioning."""
    tok = F.coalesce(F.col(token_col).cast("string"), F.lit("")).alias("__tok")
    base = df.select(
        F.col(key_col).alias("key"), *[F.col(c) for c in order_cols], tok
    )
    w = Window.partitionBy("key").orderBy(
        *[F.col(c) for c in order_cols], F.col("__tok")
    )
    tok_h = F.md5(F.col("__tok"))
    parts = [
        F.coalesce(F.lag(tok_h, off).over(w), F.lit("^"))
        for off in range(shingle_k - 1, 0, -1)
    ] + [tok_h]
    shingle = F.concat_ws("\x1f", *parts)
    return base.select(
        F.col("key"), F.pmod(md5_i64(shingle), F.lit(MINHASH_P)).alias("__h")
    )


def sequence_minhash(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
    num_hashes: int = 16,
    shingle_k: int = 2,
) -> DataFrame:
    """MinHash signature per ``key_col`` group over the ORDERED
    ``token_col`` sequence — the near-dup twin of
    :func:`sequence_fingerprints`: two conversations whose turn
    sequences differ in a FEW turns (one edited reply, one inserted
    tool call) share most signature positions, which exact sequence
    fingerprints cannot see.  Output: (key, sig: array<long>,
    n_shingles).

    Shingles are ``shingle_k``-grams of per-turn md5 fingerprints in
    total (order_cols, token) order, LEFT-padded with a boundary
    sentinel ("^" — disjoint from md5's hex alphabet) so every row
    yields exactly one shingle and conversations shorter than
    ``shingle_k`` are still represented.  ``shingle_k=1`` degrades to
    the order-INSENSITIVE bag-of-turns signature; ``shingle_k>=2`` is
    order-aware (a permuted conversation signs differently).  Tokens
    are hashed before joining, so a token containing the separator
    cannot alias a distinct sequence (same guarantee as
    :func:`sequence_fingerprints`).

    Scale shape: ONE exchange total.  The lag window hash-partitions
    by key and sorts partition-locally (spills, never buffers a whole
    conversation); the
    per-key signature groupBy reuses the window's hash(key)
    partitioning, so Catalyst plans it with NO second exchange
    (locked in tests/test_plans.py).  The ``num_hashes`` minima are
    cheap multiply-adds over one md5 per shingle, map-side partial
    aggregated.  Deterministic across engines and partitionings
    (md5-derived, MINHASH_P modular field — every product < 2^62).
    """
    hashed = _sequence_shingle_hashes(df, key_col, order_cols, token_col, shingle_k)
    return _sign_shingle_frame(hashed, num_hashes, with_count=True)


def _sign_shingle_frame(
    sh: DataFrame, num_hashes: int, with_count: bool = False
) -> DataFrame:
    """(key, sig[, n_shingles]) — MinHash minima over an existing
    (key, __h) shingle-hash frame.  The ONE home of the signature math
    (coefficients, MINHASH_P modular field, array assembly), shared by
    :func:`sequence_minhash` and :func:`sequence_neardup_pairs` so the
    cross-engine-critical expressions cannot drift between call
    sites."""
    h = F.col("__h")
    aggs = [
        F.min(F.pmod(h * F.lit(ca) + F.lit(cb), F.lit(MINHASH_P))).alias(f"__s{j}")
        for j, (ca, cb) in enumerate(minhash_coeffs(num_hashes))
    ]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n_shingles"))
    out = [
        F.col("key"),
        F.array(*[F.col(f"__s{j}") for j in range(num_hashes)]).alias("sig"),
    ]
    if with_count:
        out.append(F.col("n_shingles"))
    return sh.groupBy("key").agg(*aggs).select(*out)


def sequence_neardup_candidates(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
    num_hashes: int = 16,
    shingle_k: int = 2,
    bands: int = 4,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Conversation pairs that are NEAR-duplicates of each other:
    :func:`sequence_minhash` signatures banded through the shared LSH
    machinery (:func:`minhash_dup_candidates` — same band explode,
    bucket groupBy, in-bucket pair generation, and ``bucket_cap``
    degenerate-corpus guard).  Output: (id_a, id_b, n_bands_shared).

    Exact sequence duplicates share ALL bands; near-dups (a few
    edited/inserted turns) share most signature positions and
    therefore, with high probability, at least one full band.  Feed
    the pairs to ``graph.connected_components`` /
    ``dedup_clusters`` for conversation-level survivorship, exactly
    like the document-level families.
    """
    sigs = sequence_minhash(
        df, key_col, order_cols, token_col, num_hashes, shingle_k
    )
    return minhash_dup_candidates(
        sigs.select("key", "sig"), "key", bands, rows_per_band, bucket_cap
    )


def sequence_neardup_pairs(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    token_col: str,
    num_hashes: int = 16,
    shingle_k: int = 2,
    bands: int = 4,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """VERIFIED conversation near-dup pairs: LSH candidates re-scored
    with the EXACT Jaccard similarity of the two conversations'
    distinct shingle-hash sets, kept at ``jaccard >= threshold``.
    Output: (id_a, id_b, jaccard) — the conversation twin of
    :func:`ngram_jaccard_pairs`' candidate->verify contract: banding
    recalls, Jaccard decides.

    Scale shape: ONE corpus scan + ONE lag-window pass total.  The
    candidate signatures AND the verify shingle sets both derive from
    the same distinct-shingle frame (MinHash minima are set
    functions, so signing the distinct set is bit-identical to
    signing the multiset — same candidates, same Jaccard), and that
    frame is lazily ``localCheckpoint``-ed so its four consumers
    (signatures, sizes, and the two verify probes) read ONE
    materialization instead of re-running the scan+window per branch
    (measured 5 scans / 5 window sorts in the naive plan).  The
    materialized rows are (key, hash) longs only — no text — so
    executor-local storage is a small fraction of corpus size.  The
    candidate pass is the
    banded bucket join (capped via ``bucket_cap``); the verify pass
    joins the candidate pairs to the shingle rows TWICE on the
    conversation key (shuffle volume = |candidates| x avg shingles —
    bounded by the cap, never all-pairs) and counts shared hashes per
    pair.  Jaccard is rounded to 6 places before the threshold so the
    cross-engine float compare is exact.  ``threshold`` must be > 0:
    pairs sharing NO shingle drop out of the inner join (their
    Jaccard is 0 by definition).
    """
    if threshold <= 0:
        raise ValueError("sequence_neardup_pairs: threshold must be > 0")
    sh = _sequence_shingle_hashes(
        df, key_col, order_cols, token_col, shingle_k
    ).distinct().localCheckpoint(eager=False)
    sigs = _sign_shingle_frame(sh, num_hashes)
    cand = minhash_dup_candidates(
        sigs, "key", bands, rows_per_band, bucket_cap
    ).select("id_a", "id_b")
    sizes = sh.groupBy("key").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("key").alias("id_a"), F.col("__h"))
    b = sh.select(F.col("key").alias("id_b"), F.col("__h"))
    shared = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "__h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.round(
        F.col("n_shared")
        / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_shared")),
        6,
    )
    return (
        shared.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.key"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.key"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
