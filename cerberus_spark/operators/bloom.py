"""Distributed Bloom-filter membership: the big-big semi-join
pre-filter.

A broadcast semi join needs the key side to fit in executor memory;
past ~100M keys it can't, and a shuffled semi join moves the ENTIRE
probe table.  The standard scale move is a Bloom filter built from the
key side and broadcast to the probe scan: probe rows failing the filter
are dropped map-side BEFORE any shuffle, and only the (tiny) surviving
fraction pays the exact join.  No false negatives ever — the exact
join after the filter returns exactly the true semi join; false
positives only cost wasted shuffle, bounded by ``fp_rate``.

(The reference's threat-port membership check
``internal/databases/service.go:445-451`` is a hash-set probe; this is
its at-scale form for key sets too big to hash-map.)

Build shape — NEVER a driver-side scan:
1. ``mapInPandas`` folds each partition's keys into ONE local bitarray
   (vectorized NumPy double hashing), yielding one ``m/8``-byte binary
   row per partition;
2. one ``groupBy(partition_id % _FAN_IN)`` + ``applyInPandas`` ORs them
   to ``_FAN_IN`` (16) rows;
3. the driver ORs those blooms (≤ 16 · m/8 bytes moved
   — for a 10M-key / 1% filter that is 16 × 12 MB, not the key set).

Hashing is fixed-key siphash (vectorized, worker-independent), so
filters are partitioning-independent: building at 8 or 800 partitions
yields the SAME bits (OR is associative/commutative) — pytest-locked.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: partial blooms ORed per merge task (build stage 2)
_FAN_IN = 16


def _params(capacity: int, fp_rate: float) -> tuple[int, int]:
    """(m_bits, k_hashes) for the target capacity/false-positive rate;
    m rounded up to a whole number of uint64 words."""
    m = max(64, int(-capacity * math.log(fp_rate) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / capacity * math.log(2)))
    return m, k


def _hash_pair(values) -> tuple:
    """Vectorized (h1, h2) uint64 pairs per value: two independently
    keyed siphashes (``pandas.util.hash_array`` — C-speed, fixed keys,
    deterministic across runs/workers).  The filter never crosses
    engines (the oracle is the exact semi join), so determinism — not
    a cross-engine hash convention — is the only requirement."""
    import numpy as np
    import pandas as pd

    arr = np.asarray([str(v) for v in values], dtype=object)
    h1 = pd.util.hash_array(arr, hash_key="cerberusbloomh1_", categorize=False)
    # odd step: guarantees h2 is coprime with m's factors of 2 only —
    # m is rounded to a multiple of 64, so an h2 sharing one of m's odd
    # factors still shortens the probe cycle and the fp_rate bound is
    # approximate (slightly pessimistic m would fix it via a prime m;
    # not worth it: build and probe share the hash, so correctness —
    # no false negatives — is unaffected, and the oracle is exact)
    h2 = pd.util.hash_array(arr, hash_key="cerberusbloomh2_", categorize=False) | np.uint64(1)
    return h1, h2


def _set_bits(bits, values, m: int, k: int) -> None:
    import numpy as np

    if not len(values):
        return
    h1, h2 = _hash_pair(values)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(bits, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))


def _test_bits(bits, values, m: int, k: int):
    import numpy as np

    if not len(values):
        return np.zeros(0, dtype=bool)
    h1, h2 = _hash_pair(values)
    ok = np.ones(len(values), dtype=bool)
    for i in range(k):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
        word = bits[(pos >> np.uint64(6)).astype(np.int64)]
        ok &= (word >> (pos & np.uint64(63))) & np.uint64(1) != 0
    return ok


def _unpack(bloom: bytes):
    """(m, k, bits) from a filter blob — the 16-byte header carries the
    geometry, so a probe can NEVER run with mismatched (m, k): wrong
    geometry would mean silent false negatives, i.e. wrong semi-join
    answers, not just wasted shuffle."""
    import numpy as np

    header = np.frombuffer(bloom[:16], dtype=np.uint64)
    m, k = int(header[0]), int(header[1])
    return m, k, np.frombuffer(bloom[16:], dtype=np.uint64)


def build_bloom(
    keys: DataFrame,
    key_col: str,
    capacity: int,
    fp_rate: float = 0.01,
) -> bytes:
    """Bloom filter blob (16-byte ``(m, k)`` header + bitarray) over
    the distinct values of ``key_col`` (nulls never enter the filter).
    See module docstring for the three-stage partition-parallel
    build."""
    import numpy as np
    import pandas as pd

    m, k = _params(capacity, fp_rate)

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = None
        for b in batches:
            if len(b) == 0:
                continue
            if bits is None:
                bits = np.zeros(m // 64, dtype=np.uint64)
            _set_bits(bits, b[key_col].dropna().tolist(), m, k)
        if bits is not None:
            yield pd.DataFrame({"bloom": [bits.tobytes()]})

    partials = keys.select(key_col).mapInPandas(fold, schema="bloom binary")

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(m // 64, dtype=np.uint64)
        for blob in pdf["bloom"]:
            acc |= np.frombuffer(blob, dtype=np.uint64)
        return pd.DataFrame({"bloom": [acc.tobytes()]})

    merged = (
        partials.withColumn("g", F.spark_partition_id() % _FAN_IN)
        .groupBy("g")
        .applyInPandas(lambda p: merge(p), schema="bloom binary")
    )
    acc = np.zeros(m // 64, dtype=np.uint64)
    for row in merged.collect():  # ≤ _FAN_IN rows of m/8 bytes each
        acc |= np.frombuffer(row.bloom, dtype=np.uint64)
    return np.asarray([m, k], dtype=np.uint64).tobytes() + acc.tobytes()


def bloom_filter_rows(df: DataFrame, col: str, bloom: bytes) -> DataFrame:
    """Rows whose ``col`` MIGHT be in the filter (no false negatives;
    nulls are dropped — a null key matches nothing in a semi join).
    Geometry comes from the blob header, never from caller params.
    Pure map-side: broadcast bits + vectorized probe, zero shuffles."""
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(bloom)
    cols = df.columns

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m, k, bits = _unpack(bc.value)
        for b in batches:
            if len(b) == 0:
                continue
            b = b[b[col].notna()]
            if len(b) == 0:
                continue
            keep = _test_bits(bits, b[col].tolist(), m, k)
            out = b[keep]
            if len(out):
                yield out

    return df.mapInPandas(probe, schema=df.select(*cols).schema)


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    on: str,
    capacity: int | None = None,
    fp_rate: float = 0.01,
) -> DataFrame:
    """Exact semi join of ``big`` against ``keys`` for key sets too
    large to broadcast: Bloom pre-filter drops non-members map-side,
    then the exact join runs on the surviving sliver only.  Result is
    EXACTLY ``big ⋉ keys`` (false positives are removed by the exact
    join; false negatives don't exist).

    ``capacity`` defaults to a counted distinct of the key side —
    pass it when known to save that pass.
    """
    if capacity is None:
        capacity = max(64, keys.select(on).distinct().count())
    bloom = build_bloom(keys, on, capacity, fp_rate)
    survivors = bloom_filter_rows(big, on, bloom)
    return survivors.join(keys.select(on).distinct(), on=on, how="left_semi")
