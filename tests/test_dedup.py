"""Dedup family: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_dup_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_hamming,
    simhash_rows,
    word_shingles,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    (2, "completely different content about spark query engines and shuffles"),
    (3, "THE  quick   Brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0 (normalized)
    (4, "short text"),
    (5, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    # non-ASCII whitespace (NBSP, LINE SEP): Java/RE2 \s does NOT split
    # here — the Python/Arrow twins must agree (ASCII-ws-only split)
    (6, "tabbed\twords and nbsp glued linesep tokens kept intact"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "text string")
    got = [r.sh for r in df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == []
    assert got[2] == []


def test_exact_dedup(spark, docs_df):
    groups = exact_dedup_groups(docs_df, "text", "doc_id").collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.n_docs == 3 and g.keep_id == 0  # docs 0, 3 (normalized), 5


def test_minhash_identical_docs_same_sig(spark, docs_df):
    sigs = {r.doc_id: r.sig for r in minhash_signatures(docs_df, "text", "doc_id", 8).collect()}
    assert sigs[0] == sigs[3] == sigs[5]
    assert sigs[0] != sigs[2]
    # near-dup shares most minhashes
    shared = sum(1 for a, b in zip(sigs[0], sigs[1]) if a == b)
    assert shared >= 4


def test_minhash_lsh_finds_dups(spark, docs_df):
    sigs = minhash_signatures(docs_df, "text", "doc_id", 16)
    cands = minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=4)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (0, 3) in pairs and (0, 5) in pairs and (3, 5) in pairs
    assert not any(2 in p for p in pairs)


def test_ngram_jaccard(spark, docs_df):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs_df, "text", "doc_id", k=3, threshold=0.5).collect()
    }
    assert pairs[(0, 3)] == 1.0 and pairs[(0, 5)] == 1.0
    assert 0.5 <= pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_simhash_distance(spark, docs_df):
    sh = simhash_rows(docs_df, "text", "doc_id").select("doc_id", F.col("simhash").alias("h"))
    a = sh.alias("a")
    b = sh.alias("b")
    d = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
            simhash_hamming(F.col("a.h"), F.col("b.h")).alias("d"),
        )
    )
    dist = {(r.x, r.y): r.d for r in d.collect()}
    assert dist[(0, 3)] == 0 and dist[(0, 5)] == 0  # exact dups
    assert dist[(0, 1)] < dist[(0, 2)]  # near-dup closer than unrelated
    assert dist[(0, 1)] <= 12


@pytest.mark.parametrize("name", ["minhash_signatures", "ngram_jaccard", "simhash"])
def test_dedup_pair_edge_parity(spark, contract_pair, name):
    """The Spark contract query and its DuckDB oracle agree on DOCS plus
    a NULL-text document: DOCS holds exact dups, a near dup, a 2-word
    doc (under the 3-word shingle) and a non-ASCII-whitespace doc
    (Python's \\s is Unicode-aware, Java's and RE2's are ASCII-only, so
    the Arrow passes must split on the ASCII set)."""
    docs = spark.createDataFrame(DOCS + [(99, None)], "doc_id long, text string")
    got, want = contract_pair(name, "documents", docs)
    assert got == want, (got, want)
    if name == "minhash_signatures":
        # (doc_id, h_idx, h_val): no row for NULL text or doc 4's 2 words
        assert {r[0] for r in got} == {0, 1, 2, 3, 5, 6}
    elif name == "ngram_jaccard":
        assert {(r[0], r[1]) for r in got} >= {(0, 1), (0, 3), (0, 5), (3, 5)}
    else:
        # one row per doc; NULL text and doc 4 sign 0
        assert {r[0] for r in got} == {0, 1, 2, 3, 4, 5, 6, 99}
        assert (99, 0) in got


def test_simhash_candidates_banded(spark, docs_df):
    """Banded hamming search finds exact-dup clusters and never pairs
    unrelated docs; short docs (< shingle_k words) are excluded."""
    from cerberus_spark.operators.dedup import simhash_candidates

    cands = simhash_candidates(
        docs_df, "text", "doc_id", shingle_k=2, bands=6, max_hamming=5
    )
    got = {(r.id_a, r.id_b): r.hamming for r in cands.collect()}
    assert got[(0, 3)] == 0 and got[(0, 5)] == 0 and got[(3, 5)] == 0
    assert not any(2 in p for p in got)
    for (a, b), h in got.items():
        assert a < b and 0 <= h <= 5


def test_ngram_df_cap_drops_hot_shingles(spark):
    """With a document-frequency cap, pairs supported ONLY by a hot
    (boilerplate) shingle disappear, while pairs sharing rare shingles
    survive — and the join input is bounded per shingle."""
    boiler = "all rights reserved by the example corporation"
    rows = [(i, f"{boiler} unique tail number {i} content") for i in range(10)]
    rows += [
        (100, "rare payload alpha beta gamma delta epsilon zeta"),
        (101, "rare payload alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.2)
    capped = ngram_jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.2, df_cap=5)
    pu = {(r.id_a, r.id_b) for r in uncapped.collect()}
    pcap = {(r.id_a, r.id_b) for r in capped.collect()}
    # boilerplate-only pairs exist uncapped (45 of them), vanish capped
    assert (0, 1) in pu and (0, 1) not in pcap
    # the rare-shingle near-dup pair survives the cap
    assert (100, 101) in pu and (100, 101) in pcap


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """1,000 near-identical docs (survivors of exact dedup: each has a
    distinct tail token) collapse onto shared MinHash band signatures.
    Uncapped, one degenerate bucket would emit ~d*(d-1)/2 pairs; with
    bucket_cap the candidate count is bounded by
    n_buckets * cap*(cap-1)/2 and the job stays linear."""
    from cerberus_spark.operators.dedup import simhash_candidates

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, f"{base} tail{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "text", "doc_id", num_hashes=16, shingle_k=3)
    cap = 4
    capped = minhash_dup_candidates(
        sigs, "doc_id", bands=4, rows_per_band=4, bucket_cap=cap
    )
    n = capped.count()
    # 4 bands * at most (1000/cap) buckets... the real bound we care
    # about: far below the ~500k pairs a single uncapped bucket emits
    assert n <= 4 * 1000 // cap * (cap * (cap - 1) // 2)
    assert n < 10_000
    # simhash variant: same corpus, same boundedness
    sh_capped = simhash_candidates(
        df, "text", "doc_id", shingle_k=2, bands=6, max_hamming=5, bucket_cap=cap
    )
    assert sh_capped.count() < 10_000


def test_minhash_bucket_cap_preserves_small_buckets(spark, docs_df):
    """Pairs living in small buckets are untouched by a cap larger than
    their bucket."""
    sigs = minhash_signatures(docs_df, "text", "doc_id", num_hashes=16, shingle_k=3)
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_dup_candidates(sigs, "doc_id").collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_dup_candidates(sigs, "doc_id", bucket_cap=50).collect()
    }
    assert capped == uncapped and (0, 3) in capped


def test_streaming_minhash_batch_parity(spark, tmp_path, docs_df):
    """Documented incremental mode for the near-dedup family: MinHash
    SIGNATURES are per-document and therefore embarrassingly
    incremental — a foreachBatch sink appends them per micro-batch
    (availableNow replay here, several files -> several batches) and
    the banded candidate join then runs periodically over the
    ACCUMULATED signature table.  Candidates from the replayed stream
    must equal the one-shot batch pipeline exactly (splitting the
    corpus across micro-batches loses no pairs because pairing happens
    after accumulation, never inside a batch)."""
    src = str(tmp_path / "src")
    sig_dir = str(tmp_path / "sigs")
    docs_df.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def sink(batch_df, _bid):
        minhash_signatures(
            batch_df, "text", "doc_id", num_hashes=16, shingle_k=3
        ).write.mode("append").parquet(sig_dir)

    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    streamed = {
        (r.id_a, r.id_b, r.n_bands_shared)
        for r in minhash_dup_candidates(
            spark.read.parquet(sig_dir), "doc_id", bands=4, rows_per_band=4
        ).collect()
    }
    batch = {
        (r.id_a, r.id_b, r.n_bands_shared)
        for r in minhash_dup_candidates(
            minhash_signatures(docs_df, "text", "doc_id", num_hashes=16, shingle_k=3),
            "doc_id",
            bands=4,
            rows_per_band=4,
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_sequence_dup_groups(spark):
    from cerberus_spark.operators.dedup import sequence_dup_groups

    rows = [
        # conv A and conv B: identical ordered token sequences
        ("A", 1, 10, "x"), ("A", 2, 11, "y"), ("A", 3, 12, None),
        ("B", 1, 20, "x"), ("B", 2, 21, "y"), ("B", 3, 22, None),
        # conv C: same tokens, DIFFERENT order -> not a duplicate
        ("C", 1, 30, "y"), ("C", 2, 31, "x"), ("C", 3, 32, None),
        # conv D: same as A/B but extra item -> not a duplicate
        ("D", 1, 40, "x"), ("D", 2, 41, "y"), ("D", 3, 42, None), ("D", 4, 43, "x"),
    ]
    df = spark.createDataFrame(rows, "key string, pos int, rid long, tok string")
    out = sequence_dup_groups(df, "key", ["pos", "rid"], "tok").collect()
    assert len(out) == 1
    (grp,) = out
    assert (grp.n_keys, grp.n_items, grp.keys) == (2, 3, "A,B")


def test_sequence_fingerprints_order_sensitivity(spark):
    from cerberus_spark.operators.dedup import sequence_fingerprints

    df = spark.createDataFrame(
        [("A", 1, "x"), ("A", 2, "y"), ("B", 1, "y"), ("B", 2, "x")],
        "key string, pos int, tok string",
    )
    fps = {r.key: r.seq_fp for r in sequence_fingerprints(df, "key", ["pos"], "tok").collect()}
    assert fps["A"] != fps["B"]  # same multiset, different order


def test_sequence_dup_groups_keys_cap(spark):
    from cerberus_spark.operators.dedup import sequence_dup_groups

    # 5 single-item conversations with the SAME token -> one dup group
    rows = [(f"k{i}", 1, i, "x") for i in range(5)]
    df = spark.createDataFrame(rows, "key string, pos int, rid long, tok string")
    (grp,) = sequence_dup_groups(df, "key", ["pos", "rid"], "tok", keys_cap=2).collect()
    # n_keys stays exact; the rendered list is the 2 smallest members
    assert (grp.n_keys, grp.keys) == (5, "k0,k1")
    (full,) = sequence_dup_groups(df, "key", ["pos", "rid"], "tok").collect()
    assert full.keys == "k0,k1,k2,k3,k4"


def test_sequence_fingerprints_separator_injection(spark):
    """Tokens are md5-hashed before the joined render, so a token
    containing the separator byte can never make distinct sequences
    render identically (['a\\x1fb'] vs ['a','b'])."""
    from cerberus_spark.operators.dedup import sequence_fingerprints

    df = spark.createDataFrame(
        [("A", 1, "a\x1fb"), ("B", 1, "a"), ("B", 2, "b")],
        "key string, pos int, tok string",
    )
    fps = {
        r.key: (r.seq_fp, r.n_items)
        for r in sequence_fingerprints(df, "key", ["pos"], "tok").collect()
    }
    assert fps["A"][0] != fps["B"][0]
    assert fps["A"][1] == 1 and fps["B"][1] == 2


def test_sequence_dup_groups_chunked_parity(spark):
    """chunk_size (the bounded hierarchical fold) must produce the
    SAME dup groups as the single-pass fold — fingerprints differ by
    design, group membership may not."""
    from cerberus_spark.operators.dedup import sequence_dup_groups

    rows = [
        (key, pos, pos, tok)
        for key, toks in [
            ("A", ["x", "y", "z", "x", "y"]),
            ("B", ["x", "y", "z", "x", "y"]),   # dup of A
            ("C", ["x", "y", "z", "y", "x"]),   # same multiset, reordered
            ("D", ["x", "y"]),
            ("E", ["x", "y"]),                  # dup of D
        ]
        for pos, tok in enumerate(toks)
    ]
    df = spark.createDataFrame(rows, "key string, pos int, rid long, tok string")

    def groups(chunk_size):
        return {
            (g.n_keys, g.n_items, g.keys)
            for g in sequence_dup_groups(
                df, "key", ["pos", "rid"], "tok", chunk_size=chunk_size
            ).collect()
        }

    expect = {(2, 5, "A,B"), (2, 2, "D,E")}
    # chunk boundary inside the sequence (2), exactly at it (5), beyond (100)
    assert groups(None) == expect
    assert groups(2) == expect
    assert groups(5) == expect
    assert groups(100) == expect


def test_sequence_fingerprints_chunk_size_guard(spark):
    """chunk_size < 1 must raise loudly: chunk_size=0 would NULL the
    integer division and collapse every key into one unbounded chunk —
    the exact buffer the parameter exists to bound."""
    from cerberus_spark.operators.dedup import sequence_fingerprints

    df = spark.createDataFrame([("A", 1, "x")], "key string, pos int, tok string")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="chunk_size"):
            sequence_fingerprints(df, "key", ["pos"], "tok", chunk_size=bad)


def test_sequence_fingerprints_chunked_boundedness(spark):
    """The degenerate input the chunked fold exists for: ONE
    million-turn conversation.  No reducer may buffer the whole
    sequence — chunks buffer <= chunk_size rows and the final fold
    buffers <= n/chunk_size digests.  Deterministic across runs and
    partitionings, n_items exact."""
    from pyspark.sql import functions as F

    from cerberus_spark.operators.dedup import sequence_fingerprints

    n = 1_000_000
    df = (
        spark.range(n)
        .select(
            F.lit("conv").alias("key"),
            F.col("id").alias("pos"),
            F.concat(F.lit("t"), F.col("id") % 97).alias("tok"),
        )
    )
    (row,) = sequence_fingerprints(
        df, "key", ["pos"], "tok", chunk_size=4096
    ).collect()
    assert row.n_items == n
    (again,) = sequence_fingerprints(
        df.repartition(17), "key", ["pos"], "tok", chunk_size=4096
    ).collect()
    assert again.seq_fp == row.seq_fp


def test_chunked_fingerprint_renamed_key(spark):
    """Regression: the chunked fold's row-numbering window must
    partition by the POST-select alias ("key"), not by key_col — with
    any key_col other than literally "key" (e.g. the entry point's
    "conv_key") the old code raised UNRESOLVED_COLUMN.  Dup groups
    must also match the key_col="key" result exactly."""
    from cerberus_spark.operators.dedup import (
        sequence_dup_groups,
        sequence_fingerprints,
    )

    rows = [
        (key, pos, tok)
        for key, toks in [
            ("A", ["x", "y", "z"]),
            ("B", ["x", "y", "z"]),  # dup of A
            ("C", ["x", "z", "y"]),
        ]
        for pos, tok in enumerate(toks)
    ]
    df = spark.createDataFrame(rows, "conv_key string, pos int, tok string")
    fps = {
        r.key: r.seq_fp
        for r in sequence_fingerprints(
            df, "conv_key", ["pos"], "tok", chunk_size=2
        ).collect()
    }
    assert fps["A"] == fps["B"] != fps["C"]
    got = {
        (g.n_keys, g.n_items, g.keys)
        for g in sequence_dup_groups(
            df, "conv_key", ["pos"], "tok", chunk_size=2
        ).collect()
    }
    assert got == {(2, 3, "A,B")}


def test_minhash_band_misconfiguration_raises(spark, docs_df):
    """bands*rows_per_band beyond the signature length must fail LOUDLY
    at execution: an out-of-range slice otherwise yields '' band
    signatures for every doc — one global bucket, the quadratic blowup
    the caps exist to prevent."""
    import pytest

    from cerberus_spark.operators.dedup import (
        minhash_dup_candidates,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs_df, "text", "doc_id", num_hashes=8)
    with pytest.raises(Exception, match="exceeds signature length"):
        minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=4).collect()
    # the well-formed configuration on the same signatures still works
    ok = minhash_dup_candidates(sigs, "doc_id", bands=4, rows_per_band=2)
    assert ok.count() >= 0


# ---------------------------------------------------------------------------
# conversation-level NEAR dedup (sequence MinHash)
# ---------------------------------------------------------------------------

def _conv_df(spark):
    toks = [f"t{i}" for i in range(20)]
    rows = []
    for conv, seq in [
        ("A", toks),
        ("B", toks),                              # exact dup of A
        ("C", toks[:10] + ["XX"] + toks[11:]),    # near-dup: 1 of 20 turns edited
        ("D", list(reversed(toks))),              # same bag, different order
        ("E", [f"z{i}" for i in range(20)]),      # disjoint
    ]:
        rows += [(conv, i, t) for i, t in enumerate(seq)]
    return spark.createDataFrame(rows, "conv string, idx int, tok string")


def test_sequence_minhash_exact_near_disjoint(spark):
    from cerberus_spark.operators.dedup import sequence_minhash

    sigs = {r.key: (list(r.sig), r.n_shingles)
            for r in sequence_minhash(_conv_df(spark), "conv", ["idx"], "tok").collect()}
    assert sigs["A"] == sigs["B"]                       # identical sequences sign identically
    same = sum(a == c for a, c in zip(sigs["A"][0], sigs["C"][0]))
    assert same >= 8                                    # one edited turn: most positions survive
    assert sigs["A"][0] != sigs["D"][0]                 # k=2 is order-aware
    assert sigs["A"][0] != sigs["E"][0]
    assert all(n == 20 for _, n in sigs.values())       # sentinel pad: one shingle per row


def test_sequence_minhash_k1_is_bag(spark):
    from cerberus_spark.operators.dedup import sequence_minhash

    sigs = {r.key: list(r.sig)
            for r in sequence_minhash(_conv_df(spark), "conv", ["idx"], "tok",
                                      shingle_k=1).collect()}
    assert sigs["A"] == sigs["D"]                       # bag-of-turns: permutation-insensitive


def test_sequence_minhash_partition_invariance(spark):
    from cerberus_spark.operators.dedup import sequence_minhash

    df = _conv_df(spark)
    base = sorted((r.key, list(r.sig), r.n_shingles)
                  for r in sequence_minhash(df, "conv", ["idx"], "tok").collect())
    re7 = sorted((r.key, list(r.sig), r.n_shingles)
                 for r in sequence_minhash(df.repartition(7), "conv", ["idx"], "tok").collect())
    assert base == re7


def test_sequence_neardup_candidates(spark):
    from cerberus_spark.operators.dedup import sequence_neardup_candidates

    cand = {(r.id_a, r.id_b): r.n_bands_shared
            for r in sequence_neardup_candidates(
                _conv_df(spark), "conv", ["idx"], "tok",
                bands=4, rows_per_band=4).collect()}
    assert cand[("A", "B")] == 4                        # exact dup shares ALL bands
    assert ("A", "C") in cand and ("B", "C") in cand    # near-dup surfaces through >=1 band
    assert not any("E" in p for p in cand)              # disjoint never pairs


def test_sequence_neardup_bucket_cap(spark):
    from cerberus_spark.operators.dedup import sequence_neardup_candidates

    # 6 byte-identical conversations: uncapped emits 15 pairs from each
    # band's single bucket; cap=2 drops the degenerate buckets whole
    rows = [(f"c{j}", i, f"t{i}") for j in range(6) for i in range(10)]
    df = spark.createDataFrame(rows, "conv string, idx int, tok string")
    assert sequence_neardup_candidates(df, "conv", ["idx"], "tok").count() == 15
    assert sequence_neardup_candidates(
        df, "conv", ["idx"], "tok", bucket_cap=2).count() == 0


def test_sequence_neardup_pairs_verify(spark):
    from cerberus_spark.operators.dedup import sequence_neardup_pairs

    df = _conv_df(spark)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in sequence_neardup_pairs(df, "conv", ["idx"], "tok",
                                           threshold=0.2).collect()}
    assert got[("A", "B")] == 1.0                       # identical: jaccard 1
    # one edited turn of 20, bigram shingles: 18 shared / 22 union
    assert got[("A", "C")] == got[("B", "C")] == 0.818182
    assert not any("E" in p for p in got)
    hi = sequence_neardup_pairs(df, "conv", ["idx"], "tok", threshold=0.95)
    assert {(r.id_a, r.id_b) for r in hi.collect()} == {("A", "B")}
    with pytest.raises(ValueError):
        sequence_neardup_pairs(df, "conv", ["idx"], "tok", threshold=0.0)
