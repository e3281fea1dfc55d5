"""Corpus-cleaning pipeline e2e: quality gate, exact dedup, near-dedup,
drop report, CLI job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_spark.corpus import clean_corpus

BASE = (
    "this is a reasonably long and varied document about the engine "
    "which keeps going with many different words and some structure "
    "so that repetition ratios stay low and the stopword mix is sane "
    "while the total token count clears the minimum threshold easily "
    "because a few extra clauses of ordinary prose push the counter "
    "comfortably past fifty whitespace separated tokens in this text"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),                                   # keeper
        (2, BASE),                                   # exact dup of 1
        (3, BASE.replace("engine", "motor")),        # near dup of 1
        (4, "tiny"),                                 # fails quality gate
        (5, ("spam " * 80).strip()),                 # boilerplate
        (6, "an entirely different report on harbor logistics and the "
            "seasonal movement of cargo vessels between northern ports "
            "where scheduling constraints and berth availability interact "
            "with tide tables and customs inspection windows to determine "
            "the realistic throughput a terminal operator can promise for "
            "any given week of the high season without overtime crews"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_clean_corpus_stages(spark, corpus):
    outs = clean_corpus(corpus, minhash_kwargs={"num_hashes": 32, "shingle_k": 3},
                        bands=8, rows_per_band=4)
    kept = sorted(r.doc_id for r in outs["kept"].collect())
    dropped = {(r.id, r.stage) for r in outs["dropped"].collect()}
    assert 1 in kept                      # canonical survivor
    assert (2, "exact_dup") in dropped
    assert (3, "near_dup") in dropped
    assert (4, "quality") in dropped and (5, "quality") in dropped
    assert 6 in kept                      # heavily rewritten -> kept
    rep = {(r.stage, r.reason): r.n_docs for r in outs["report"].collect()}
    assert rep[("exact_dup", "dup_of_1")] == 1
    assert rep[("quality", "too_short")] >= 1


def test_clean_corpus_normalization_unifies_dups(spark):
    # composed vs decomposed é: exact dup ONLY after NFC normalization
    a = BASE + " café"          # composed
    b = BASE + " café"         # e + combining acute (NFD)
    assert a != b
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    outs = clean_corpus(df)
    assert sorted(r.doc_id for r in outs["kept"].collect()) == [1]
    assert [(r.id, r.stage) for r in outs["dropped"].collect()] == [(2, "exact_dup")]
    # without normalization the spellings differ by one token: the pair
    # degrades from EXACT dup to a MinHash near-dup (weaker evidence,
    # later stage) — which is precisely why normalization goes first
    outs_raw = clean_corpus(df, normalize=False)
    assert [(r.id, r.stage) for r in outs_raw["dropped"].collect()] == [(2, "near_dup")]


def test_corpus_job_cli(spark, corpus, tmp_path):
    import json

    from jobs.corpus_job import main

    inp = str(tmp_path / "docs")
    corpus.write.mode("overwrite").parquet(inp)
    sink = str(tmp_path / "out")
    rc = main(["--input", inp, "--sink", sink])
    assert rc == 0
    kept = spark.read.parquet(f"{sink}/kept")
    assert kept.count() >= 2 and "text" in kept.columns
    rep = spark.read.parquet(f"{sink}/report")
    assert rep.filter(F.col("stage") == "quality").count() >= 1


def test_clean_corpus_substring_removal_stage(spark):
    run = "R" * 80
    other = (
        "a separate account of riverside maintenance schedules and the "
        "rotation of inspection crews across pumping stations during "
        "the long dry season when water allocations tighten everywhere "
        "and every district manager files competing priority requests "
        "until the regional board publishes the final reconciled plan "
        "that governs which canals receive flow in which calendar week"
    )
    docs = spark.createDataFrame(
        [(1, BASE + " x" + run + "y end"), (2, other + " p" + run + "q tail")],
        "doc_id long, text string",
    )
    outs = clean_corpus(
        docs, substring_removal=True, winnow_g=8, winnow_w=4, min_run=60
    )
    kept = {r.doc_id: r for r in outs["kept"].collect()}
    assert set(kept) == {1, 2}            # different docs: both survive doc-level dedup
    assert run in kept[1].text            # lower id keeps the run
    assert run not in kept[2].text        # higher id had it cut
    assert kept[2].n_cut_chars >= 80


def test_incremental_corpus_matches_batch(spark, corpus, tmp_path):
    """Streaming-ingest mode: per-doc stages run per micro-batch
    (foreachBatch, availableNow replay, one file per trigger), corpus
    stages run at compaction over the accumulated work tables — kept
    ids, drop rows, and the report must equal the one-shot batch
    clean_corpus exactly (per-doc fingerprints/signatures cannot depend
    on WHEN they were computed)."""
    from cerberus_spark.corpus import compact_corpus, ingest_corpus_increment

    mh = {"num_hashes": 32, "shingle_k": 3}
    batch = clean_corpus(corpus, minhash_kwargs=mh, bands=8, rows_per_band=4)
    b_kept = sorted(r.doc_id for r in batch["kept"].collect())
    b_dropped = {(r.id, r.stage, r.reason) for r in batch["dropped"].collect()}

    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    corpus.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: ingest_corpus_increment(df, work, minhash_kwargs=mh)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    inc = compact_corpus(spark, work, bands=8, rows_per_band=4)
    assert sorted(r.doc_id for r in inc["kept"].collect()) == b_kept
    assert {(r.id, r.stage, r.reason) for r in inc["dropped"].collect()} == b_dropped
    assert {
        (r.stage, r.reason, r.n_docs) for r in inc["report"].collect()
    } == {(r.stage, r.reason, r.n_docs) for r in batch["report"].collect()}


def test_corpus_job_cli_incremental(spark, corpus, tmp_path):
    """--incremental CLI path: stream-ingest + compact writes the same
    sink layout and keeps the same ids as batch mode."""
    from jobs.corpus_job import main

    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    corpus.repartition(2).write.parquet(src)
    rc = main([
        "--input", src, "--sink", sink, "--incremental",
        "--max-files-per-trigger", "1",
        "--max-dup-word-milli", "300",
    ])
    assert rc == 0
    kept = {r.doc_id for r in spark.read.parquet(f"{sink}/kept").collect()}
    batch = clean_corpus(corpus)
    assert kept == {r.doc_id for r in batch["kept"].collect()}


def test_clean_corpus_lm_filter_stage(spark):
    """The optional CCNet LM stage drops exactly the docs whose bucket
    falls outside keep_buckets, records lm_quality rows, keeps
    unscorable docs, and validates its config."""
    import pytest

    from cerberus_spark.functions.text import unigram_logprob_scores
    from cerberus_spark.operators.sample import quantile_buckets

    # 9 distinct docs, all long enough for the gate, no dups: buckets
    # split them 3/3/3 by corpus-LM score
    # doc i carries i cross-doc-common words (commonJ appears in docs
    # J+1..9, so corpus frequencies vary) interleaved with doc-unique
    # singleton fillers: scores differ across docs, no word repeats
    # inside a doc (repetition gates silent), and every 3-shingle
    # contains a doc-unique filler (near-dup stage silent).
    def _doc(i):
        toks = []
        for j in range(i):
            toks += [f"u{i}x{j}", f"common{j}"]
        toks += [f"u{i}x{k}" for k in range(i, i + 12)]
        return " ".join(toks)

    rows = [(i, _doc(i)) for i in range(1, 10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(
        quality_kwargs={"min_tokens": 5, "min_quality_milli": 0},
        minhash_kwargs={"num_hashes": 16, "shingle_k": 3},
    )

    outs = clean_corpus(docs, lm_filter={"keep_buckets": ("head", "middle")}, **kw)
    kept_ids = {r.doc_id for r in outs["kept"].collect()}
    drop_rows = [r for r in outs["dropped"].collect() if r.stage == "lm_quality"]

    # twin: same score + bucket computation on the dedup survivors
    # (here: all 9 docs survive dedup)
    scores = unigram_logprob_scores(docs, "text", "doc_id")
    want_tail = {
        r.doc_id
        for r in quantile_buckets(scores, "unigram_nll").collect()
        if r.bucket == "tail"
    }
    assert want_tail  # fixture must exercise the drop path
    assert kept_ids == {i for i in range(1, 10)} - want_tail
    assert {r.id for r in drop_rows} == want_tail
    assert all(r.reason == "bucket_tail" for r in drop_rows)
    # report aggregates the stage
    rep = {(r.stage, r.reason): r.n_docs for r in outs["report"].collect()}
    assert rep[("lm_quality", "bucket_tail")] == len(want_tail)

    # keep only head -> strictly fewer survivors
    head_only = clean_corpus(docs, lm_filter={"keep_buckets": ("head",)}, **kw)
    assert head_only["kept"].count() < len(kept_ids)

    # bigram model: same machinery, context-aware score; drops exist
    # and carry the same stage/reason vocabulary
    bi = clean_corpus(docs, lm_filter={"model": "bigram"}, **kw)
    bi_drops = [r for r in bi["dropped"].collect() if r.stage == "lm_quality"]
    assert bi_drops and all(r.reason == "bucket_tail" for r in bi_drops)

    # config validation
    with pytest.raises(ValueError):
        clean_corpus(docs, lm_filter={"bogus_key": 1}, **kw)
    with pytest.raises(ValueError):
        clean_corpus(docs, lm_filter={"keep_buckets": ("nope",)}, **kw)
    with pytest.raises(ValueError):
        clean_corpus(docs, lm_filter={"model": "trigram"}, **kw)

    # default (lm_filter=None) is unchanged: no lm_quality rows
    base = clean_corpus(docs, **kw)
    assert base["dropped"].filter(F.col("stage") == "lm_quality").count() == 0
    assert base["kept"].count() == 9


def test_corpus_job_cli_lm_filter(spark, tmp_path):
    from jobs.corpus_job import main

    # reuse the lm fixture shape: 9 distinct docs, varying rare-token
    # mass, gate-safe with loose thresholds
    def _doc(i):
        toks = []
        for j in range(i):
            toks += [f"u{i}x{j}", f"common{j}"]
        toks += [f"u{i}x{k}" for k in range(i, i + 12)]
        return " ".join(toks)

    docs = spark.createDataFrame(
        [(i, _doc(i)) for i in range(1, 10)], "doc_id long, text string"
    )
    inp = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(inp)
    sink = str(tmp_path / "out")
    rc = main([
        "--input", inp, "--sink", sink,
        "--min-tokens", "5", "--min-quality-milli", "0",
        "--lm-filter", "--lm-keep", "head,middle",
    ])
    assert rc == 0
    rep = spark.read.parquet(f"{sink}/report")
    lm = rep.filter(F.col("stage") == "lm_quality").collect()
    assert lm and all(r.reason == "bucket_tail" for r in lm)
    kept = spark.read.parquet(f"{sink}/kept")
    assert 0 < kept.count() < 9

    # incremental mode rejects the corpus-level LM stage
    import pytest

    with pytest.raises(SystemExit):
        main(["--input", inp, "--sink", sink, "--incremental", "--lm-filter"])


# ---------------------------------------------------------------------------
# clean_transcripts: conversation-granularity health -> near-dedup
# ---------------------------------------------------------------------------

def _transcript_fixture(spark):
    import datetime as dt

    T0 = dt.datetime(2026, 1, 1)
    rows = []

    def add(conv, toks, bad_ts=False):
        for i, t in enumerate(toks):
            ts = T0 + dt.timedelta(minutes=(len(toks) - i) if bad_ts else i)
            rows.append((conv, i, t, ts))

    toks = [f"t{i}" for i in range(20)]
    add("A", toks)
    add("B", toks)                                  # exact dup of A
    add("C", toks[:10] + ["XX"] + toks[11:])        # near-dup: 1 of 20 turns edited
    add("U", ["x", "q"] * 5, bad_ts=True)           # bad first + transitions + regressions
    add("E", ["s"] + ["c", "d"] * 8)                # healthy, disjoint
    return spark.createDataFrame(rows, "conv string, idx int, tok string, ts timestamp")


def test_clean_transcripts_stages(spark):
    from cerberus_spark.corpus import clean_transcripts

    df = _transcript_fixture(spark)
    # the t9->XX->t11 bridge keeps C healthy, so it reaches the dedup stage
    allowed = (
        {(f"t{i}", f"t{i+1}") for i in range(19)}
        | {("t9", "XX"), ("XX", "t11")}
        | {("s", "c"), ("c", "d"), ("d", "c")}
    )
    out = clean_transcripts(df, "conv", ["idx"], "tok", "ts", allowed,
                            allowed_first={"s", "t0"}, bucket_cap=8, threshold=0.5)
    rep = {(r.stage, r.reason): r.n_convs for r in out["report"].collect()}
    assert rep[("near_dup", "cluster_loser")] == 2        # B and C lose to A
    assert rep[("kept", "survivor")] == 2                 # A and E survive
    assert rep[("health", "first_state")] == 1            # U
    assert ("health", "transition") in rep and rep[("health", "transition")] == 1
    dropped = {(r.conv, r.stage, r.reason) for r in out["dropped"].collect()}
    assert ("B", "near_dup", "cluster_loser") in dropped
    assert ("C", "near_dup", "cluster_loser") in dropped
    assert ("U", "health", "ts_regression") in dropped
    kept_convs = {r.conv for r in out["kept"].select("conv").distinct().collect()}
    assert kept_convs == {"A", "E"}
    # self-accounting: unhealthy + losers + kept == |convs|
    n_unhealthy = len({c for c, s, _ in dropped if s == "health"})
    assert n_unhealthy + rep[("near_dup", "cluster_loser")] + rep[("kept", "survivor")] == 5
    # kept turns carry every input column
    assert set(out["kept"].columns) == set(df.columns)


def test_clean_transcripts_survivor_policy_longest(spark):
    """survivor_policy="longest" keeps the cluster member with the
    MOST TURNS (ties to min key) instead of the positional min key."""
    import datetime as dt

    from cerberus_spark.corpus import clean_transcripts

    T0 = dt.datetime(2026, 1, 1)
    rows = []
    for conv, n in (("A", 20), ("B", 21)):   # B = A + one appended turn
        for i in range(n):
            rows.append((conv, i, f"t{i}", T0 + dt.timedelta(minutes=i)))
    df = spark.createDataFrame(rows, "conv string, idx int, tok string, ts timestamp")
    allowed = {(f"t{i}", f"t{i+1}") for i in range(20)}
    kw = dict(allowed_first={"t0"}, bucket_cap=8, threshold=0.5)

    by_min = clean_transcripts(df, "conv", ["idx"], "tok", "ts", allowed, **kw)
    assert {r.conv for r in by_min["kept"].select("conv").distinct().collect()} == {"A"}

    by_len = clean_transcripts(df, "conv", ["idx"], "tok", "ts", allowed,
                               survivor_policy="longest", **kw)
    assert {r.conv for r in by_len["kept"].select("conv").distinct().collect()} == {"B"}
    assert [(r.conv, r.stage) for r in by_len["dropped"].collect()] == [("A", "near_dup")]

    with pytest.raises(ValueError, match="survivor_policy"):
        clean_transcripts(df, "conv", ["idx"], "tok", "ts", allowed,
                          survivor_policy="best", **kw)


def test_clean_transcripts_self_accounting_property(spark):
    """Hypothesis: on ARBITRARY corpora and transition grammars the
    report is always self-accounting — distinct unhealthy convs +
    cluster losers + kept survivors == |convs| — and the kept/dropped
    partitions never overlap or lose turns."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from cerberus_spark.corpus import clean_transcripts

    T0 = dt.datetime(2026, 1, 1)
    toks = st.sampled_from(["a", "b", "c"])
    convs = st.lists(  # 1..6 conversations of 1..8 turns each
        st.lists(toks, min_size=1, max_size=8), min_size=1, max_size=6
    )
    grammars = st.sets(
        st.tuples(toks, toks), min_size=0, max_size=9
    )
    firsts = st.one_of(st.none(), st.sets(toks, min_size=0, max_size=3))

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture,
                               HealthCheck.too_slow],
    )
    @given(corpus=convs, allowed=grammars, first=firsts)
    def check(corpus, allowed, first):
        rows = [
            (f"c{ci}", ti, tok, T0 + dt.timedelta(minutes=ti))
            for ci, conv in enumerate(corpus)
            for ti, tok in enumerate(conv)
        ]
        df = spark.createDataFrame(
            rows, "conv string, idx int, tok string, ts timestamp"
        )
        out = clean_transcripts(
            df, "conv", ["idx"], "tok", "ts", allowed, first,
            bucket_cap=8, threshold=0.5,
        )
        dropped = [(r.conv, r.stage) for r in out["dropped"].collect()]
        kept_convs = {r.conv for r in out["kept"].select("conv").distinct().collect()}
        n_unhealthy = len({c for c, s in dropped if s == "health"})
        n_losers = len({c for c, s in dropped if s == "near_dup"})
        assert n_unhealthy + n_losers + len(kept_convs) == len(corpus)
        assert kept_convs.isdisjoint({c for c, _ in dropped})
        # kept turns are exactly the original turns of surviving convs
        n_kept_turns = out["kept"].count()
        assert n_kept_turns == sum(
            len(corpus[int(c[1:])]) for c in kept_convs
        )

    check()


def test_clean_transcripts_partition_invariance(spark):
    """The full composition (health window -> shared-shingle near-dedup
    -> checkpointed verdicts) must produce identical reports and
    survivors regardless of input partitioning — the md5-determinism
    discipline survives the localCheckpoint materializations."""
    from cerberus_spark.corpus import clean_transcripts

    df = _transcript_fixture(spark)
    allowed = (
        {(f"t{i}", f"t{i+1}") for i in range(19)}
        | {("t9", "XX"), ("XX", "t11")}
        | {("s", "c"), ("c", "d"), ("d", "c")}
    )
    kw = dict(allowed_first={"s", "t0"}, bucket_cap=8, threshold=0.5)
    outs = [
        clean_transcripts(d, "conv", ["idx"], "tok", "ts", allowed, **kw)
        for d in (df, df.repartition(7), df.repartition(1))
    ]
    reports = [sorted(map(tuple, o["report"].collect())) for o in outs]
    assert reports[0] == reports[1] == reports[2]
    kept = [sorted(r.conv for r in o["kept"].select("conv").distinct().collect())
            for o in outs]
    assert kept[0] == kept[1] == kept[2]


def test_transcript_job_cli(spark, tmp_path):
    import json

    from jobs.transcript_job import main

    df = _transcript_fixture(spark)
    inp = str(tmp_path / "turns")
    df.write.mode("overwrite").parquet(inp)
    grammar = tmp_path / "grammar.json"
    grammar.write_text(json.dumps({
        "allowed": (
            [[f"t{i}", f"t{i+1}"] for i in range(19)]
            + [["t9", "XX"], ["XX", "t11"], ["s", "c"], ["c", "d"], ["d", "c"]]
        ),
        "allowed_first": ["s", "t0"],
    }))
    sink = str(tmp_path / "out")
    rc = main(["--input", inp, "--sink", sink, "--grammar", str(grammar),
               "--conv-col", "conv", "--order-cols", "idx",
               "--state-col", "tok", "--ts-col", "ts",
               "--bucket-cap", "8"])
    assert rc == 0
    kept = spark.read.parquet(f"{sink}/kept")
    assert {r.conv for r in kept.select("conv").distinct().collect()} == {"A", "E"}
    assert set(kept.columns) == set(df.columns)
    rep = {(r.stage, r.reason): r.n_convs
           for r in spark.read.parquet(f"{sink}/report").collect()}
    assert rep[("near_dup", "cluster_loser")] == 2
    assert rep[("kept", "survivor")] == 2
    dropped = spark.read.parquet(f"{sink}/dropped")
    assert dropped.filter(
        (F.col("conv") == "U") & (F.col("stage") == "health")
    ).count() >= 2


def test_transcript_job_cli_bad_grammar(tmp_path):
    from jobs.transcript_job import main

    grammar = tmp_path / "grammar.json"
    grammar.write_text('{"allowed": "user->assistant"}')
    with pytest.raises(SystemExit):
        main(["--input", "x", "--sink", "y", "--grammar", str(grammar)])


def test_incremental_transcripts_match_batch(spark, tmp_path):
    """Streaming turn ingest (availableNow, one file per trigger —
    conversations deliberately SPLIT across micro-batches) then
    compact must equal one-shot clean_transcripts exactly: ingest
    precomputes nothing per-turn, so batch slicing cannot leak into
    any conversation-level decision."""
    from cerberus_spark.corpus import (
        clean_transcripts,
        compact_transcripts,
        ingest_transcript_increment,
    )

    df = _transcript_fixture(spark)
    allowed = (
        {(f"t{i}", f"t{i+1}") for i in range(19)}
        | {("t9", "XX"), ("XX", "t11")}
        | {("s", "c"), ("c", "d"), ("d", "c")}
    )
    kw = dict(allowed_first={"s", "t0"}, bucket_cap=8, threshold=0.5)
    batch = clean_transcripts(df, "conv", ["idx"], "tok", "ts", allowed, **kw)
    b_kept = sorted((r.conv, r.idx) for r in batch["kept"].collect())
    b_dropped = {(r.conv, r.stage, r.reason) for r in batch["dropped"].collect()}
    b_report = {(r.stage, r.reason, r.n_convs) for r in batch["report"].collect()}

    src = str(tmp_path / "src")
    work = str(tmp_path / "work")
    # 4 files, ordered turns interleaved: every conversation spans files
    df.repartition(4).write.parquet(src)
    seen = []
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(
            lambda b, bid: (
                seen.append(bid),
                ingest_transcript_increment(b, work, bid),
                # at-least-once RETRY of every batch: the batch_id
                # overwrite must absorb it (duplicated turns would
                # manufacture self-transitions and quarantine every
                # conversation)
                ingest_transcript_increment(b, work, bid),
            )
        )
        .option("checkpointLocation", f"{work}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 2  # conversations really were split across batches

    inc = compact_transcripts(
        spark, work, "conv", ["idx"], "tok", "ts", allowed, **kw
    )
    assert sorted((r.conv, r.idx) for r in inc["kept"].collect()) == b_kept
    assert {(r.conv, r.stage, r.reason) for r in inc["dropped"].collect()} == b_dropped
    assert {(r.stage, r.reason, r.n_convs) for r in inc["report"].collect()} == b_report
    # batch_id is ingest bookkeeping, not an input column
    assert "batch_id" not in inc["kept"].columns


def test_compact_transcripts_rejects_flat_files(spark, tmp_path):
    """A parquet file written flat next to a ``batch_id=<n>`` directory
    (the layout of an ingest without batch ids) is skipped by partition
    discovery, so compaction refuses it by name instead of silently
    dropping its turns."""
    from cerberus_spark.corpus import compact_transcripts, ingest_transcript_increment

    df = _transcript_fixture(spark)
    work = str(tmp_path / "work")
    ingest_transcript_increment(df, work, 0)
    df.coalesce(1).write.mode("append").parquet(f"{work}/turns")
    with pytest.raises(ValueError, match="outside batch_id=<n> directories"):
        compact_transcripts(spark, work, "conv", ["idx"], "tok", "ts", {("s", "c")})


def test_transcript_job_cli_incremental(spark, tmp_path):
    """--incremental CLI path: stream-ingest + compact writes the same
    sink layout and keeps the same conversations as batch mode."""
    import json

    from jobs.transcript_job import main

    df = _transcript_fixture(spark)
    inp = str(tmp_path / "turns")
    df.repartition(3).write.parquet(inp)
    grammar = tmp_path / "grammar.json"
    grammar.write_text(json.dumps({
        "allowed": (
            [[f"t{i}", f"t{i+1}"] for i in range(19)]
            + [["t9", "XX"], ["XX", "t11"], ["s", "c"], ["c", "d"], ["d", "c"]]
        ),
        "allowed_first": ["s", "t0"],
    }))
    sink = str(tmp_path / "out")
    rc = main(["--input", inp, "--sink", sink, "--grammar", str(grammar),
               "--conv-col", "conv", "--order-cols", "idx",
               "--state-col", "tok", "--ts-col", "ts", "--bucket-cap", "8",
               "--incremental", "--max-files-per-trigger", "1"])
    assert rc == 0
    kept = spark.read.parquet(f"{sink}/kept")
    assert {r.conv for r in kept.select("conv").distinct().collect()} == {"A", "E"}


#: the fused document pass's edge cases: NULL text, docs shorter than
#: shingle_k words, decomposed input and C0/C1 control characters
EDGE_DOCS = [
    (1, BASE),
    (2, None),
    (3, "two words"),
    (4, BASE.replace("engine", "café")),          # decomposed é
    (5, BASE.replace("engine", "café")),           # composed: dup of 4 after NFC
    (6, BASE.replace("engine", "en\x07gine\x85")),      # C0 BEL, C1 NEL: dup of 1 after strip
    (7, BASE.replace("engine", "motor") + " \x1b[0m"),  # near dup of 1, ESC
    (8, ("spam " * 80).strip()),
    (9, "a short\x0b text\x9f here"),
]

#: a gate that keeps every document, so every one is signed
KEEP_ALL = {
    "min_tokens": 0,
    "max_dup_word_milli": 1000,
    "max_top_word_milli": 1000,
    "max_dup_2gram_milli": 1000,
    "min_quality_milli": 0,
}


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


@pytest.mark.parametrize("normalize", [True, False])
def test_document_pass_equals_staged_functions(spark, edge_docs, normalize):
    """The fused pass's text and ``_gate`` equal the Arrow gate over
    ``normalize_unicode``, and its signatures equal
    ``minhash_signatures``' bit for bit."""
    from cerberus_spark.corpus import _document_pass, _stored_signatures
    from cerberus_spark.functions.text import gopher_report_arrow, normalize_unicode
    from cerberus_spark.operators.dedup import minhash_signatures

    staged_in = edge_docs.withColumn("text", normalize_unicode("text")) if normalize else edge_docs
    fused = _document_pass(edge_docs, "text", normalize, None, None)
    got = {r.doc_id: (r.text, r._gate.keep, list(r._gate.reasons)) for r in fused.collect()}
    want = {
        r.doc_id: (r.text, r.keep, list(r.reasons))
        for r in gopher_report_arrow(staged_in, "text").collect()
    }
    assert got == want
    assert got[4][0] == got[5][0] if normalize else got[4][0] != got[5][0]

    mh = {"num_hashes": 16, "shingle_k": 3}
    signed = _document_pass(edge_docs, "text", normalize, KEEP_ALL, mh)
    sigs = {r.doc_id: list(r.sig) for r in _stored_signatures(signed, "doc_id").collect()}
    assert sorted(sigs) == [1, 4, 5, 6, 7, 8, 9]  # no NULL text, no 2-word doc
    ref = minhash_signatures(staged_in, "text", "doc_id", **mh)
    assert sigs == {r.doc_id: list(r.sig) for r in ref.collect()}


def _staged_document_pass(docs, text_col, normalize, quality_kwargs, minhash_kwargs):
    """``corpus._document_pass`` composed from the standalone Arrow
    operators, one pass each: ``normalize_unicode``, then
    ``gopher_report_arrow``, then ``minhash_signatures`` over the
    gate-kept documents, joined back by ``doc_id``."""
    from cerberus_spark.corpus import DEFAULT_MINHASH
    from cerberus_spark.functions.text import gopher_report_arrow, normalize_unicode
    from cerberus_spark.operators.dedup import minhash_signatures

    if normalize:
        docs = docs.withColumn(text_col, normalize_unicode(text_col))
    gated = gopher_report_arrow(docs, text_col, **(quality_kwargs or {}))
    sigs = minhash_signatures(
        gated.filter("keep"), text_col, "doc_id", **{**DEFAULT_MINHASH, **(minhash_kwargs or {})}
    )
    return (
        gated.join(sigs.withColumnRenamed("sig", "_sig"), "doc_id", "left")
        .withColumn("_gate", F.struct("keep", "reasons"))
        .select(*docs.columns, "_sig", "_gate")
    )


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"normalize": False},
        {"lm_filter": {"keep_buckets": ("head", "middle")}},
    ],
    ids=["default", "no_normalize", "lm_filter"],
)
def test_clean_corpus_fused_equals_staged(spark, edge_docs, monkeypatch, kw):
    """One Arrow pass per document (the default) and the staged
    composition of the standalone operators (normalize, gate and
    MinHash as separate passes) give the same kept, dropped and report
    rows."""
    import cerberus_spark.corpus as corpus

    docs = edge_docs.union(
        spark.createDataFrame([(10, BASE + " plus a longer tail")], "doc_id long, text string")
    )
    common = {"minhash_kwargs": {"num_hashes": 32, "shingle_k": 3}, "bands": 8, "rows_per_band": 4}
    fused = {k: sorted(v.collect(), key=repr) for k, v in clean_corpus(docs, **common, **kw).items()}
    monkeypatch.setattr(corpus, "_document_pass", _staged_document_pass)
    staged = clean_corpus(docs, **common, **kw)
    for name in ("kept", "dropped", "report"):
        assert fused[name] == sorted(staged[name].collect(), key=repr), name
    stages = {r.stage for r in fused["dropped"]}
    assert {"quality", "near_dup"} <= stages
    assert ("exact_dup" in stages) == kw.get("normalize", True)  # docs 4/5 and 1/6


#: two NULL-text documents among a keeper, its exact and near dups and
#: a gate failure
NULL_TEXT_DOCS = [
    (1, BASE),
    (2, None),
    (3, BASE),
    (4, BASE.replace("engine", "motor")),
    (5, None),
    (6, "tiny"),
]


@pytest.mark.parametrize("normalize", [True, False])
def test_null_text_docs_are_kept(spark, tmp_path, normalize):
    """The gate keeps a NULL-text document, and it has no fingerprint
    and no signature, so it is never a dup: it lands in ``kept``.
    Every document is in exactly one of ``kept`` and ``dropped``, and
    the incremental pipeline agrees with the batch one."""
    from cerberus_spark.corpus import compact_corpus, ingest_corpus_increment

    docs = spark.createDataFrame(NULL_TEXT_DOCS, "doc_id long, text string")
    kw = {"normalize": normalize, "minhash_kwargs": {"num_hashes": 32, "shingle_k": 3}}
    outs = clean_corpus(docs, bands=8, rows_per_band=4, **kw)
    kept = sorted(r.doc_id for r in outs["kept"].collect())
    dropped = {(r.id, r.stage, r.reason) for r in outs["dropped"].collect()}
    dropped_ids = {d[0] for d in dropped}
    assert kept == [1, 2, 5]
    assert not set(kept) & dropped_ids
    assert set(kept) | dropped_ids == {d[0] for d in NULL_TEXT_DOCS}
    assert {(3, "exact_dup", "dup_of_1"), (4, "near_dup", "cluster_1")} <= dropped

    work = str(tmp_path / "work")
    for part in (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1):
        ingest_corpus_increment(docs.filter(part), work, **kw)
    inc = compact_corpus(spark, work, bands=8, rows_per_band=4)
    assert sorted(r.doc_id for r in inc["kept"].collect()) == kept
    assert {(r.id, r.stage, r.reason) for r in inc["dropped"].collect()} == dropped
    assert sorted(inc["report"].collect()) == sorted(outs["report"].collect())
