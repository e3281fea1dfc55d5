"""Corpus cleaning pipeline: the training-data counterpart of
``pipeline.run_full_validation`` — normalize → quality-gate → exact
dedup → near-dedup → keep/drop report, each stage an already
oracle-gated operator from this repo.  ``kept``, ``dropped`` and
``report`` come back lazy, but the call itself runs the candidate-pair
pipeline once: clustering picks its regime from the size of the
candidate graph.

Every document is decided once.  Stage shapes at 100 TB (all
documented on the underlying operators): every per-document Python
step — NFC and control-character stripping, the Gopher gate and the
MinHash signature of each kept document — is ONE Arrow ``mapInPandas``
pass (:func:`_document_pass`); ONE fingerprint-keyed window then gives
every gate-kept document its md5 fingerprint and its exact-dup keeper
(:func:`_exact_verdict`), the only corpus-sized shuffle; LSH reads the
keepers' stored signatures and shuffles once on capped band buckets;
clustering moves only candidate edges, and a small candidate graph is
clustered on the driver from one bounded collect.  Documents never fan
out.

Why one pass: each Python *task* costs a fixed ~0.25 s of worker CPU
whatever its rows (PySpark 4.1 / Python 3.11 on a 4-core x86 host;
mostly the per-task ``importlib.invalidate_caches()``, after which
Python re-reads ``pyspark.zip``'s directory), so three per-document
passes over four partitions cost twelve such tasks where one pass
costs four.

Scan count: by default the verdict (document pass plus window) is
localCheckpointed, so it runs ONCE and the LSH input, ``kept``,
``dropped`` and ``report`` are all filters of it — none of them
re-derives a fingerprint (re-running the branches measured 4.4x slower
on a 1M-doc corpus).  Set ``checkpoint_stages=False`` when the gated
corpus exceeds cluster storage and re-scanning parquet is the cheaper
trade.  On the 4k-doc benchmark corpus at local[4], one warm
``clean_corpus`` call plus writing its three outputs is 9 Spark jobs:
4 in the call (the window's exchange, the two LSH exchanges, the
bounded edge collect) and 5 for the three writes.  It was 21 when the
fingerprint join re-ran for each of four consumers and the clusters
took five jobs of their own.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


#: ``minhash_kwargs`` when the caller passes none
DEFAULT_MINHASH = {"num_hashes": 16, "shingle_k": 3}


def _document_pass(
    docs: DataFrame,
    text_col: str,
    normalize: bool,
    quality_kwargs: dict | None,
    minhash_kwargs: dict | None,
) -> DataFrame:
    """Every per-document Python step of the corpus pipeline in ONE
    Arrow pass: NFC + control-character stripping (when ``normalize``),
    the Gopher reasons and keep flag, and the MinHash signature of each
    kept document.  Emits the input columns (``text_col`` normalized),
    ``_gate`` (keep, reasons) and ``_sig`` (array<long>; NULL for
    dropped docs and where :func:`minhash_signatures` emits no row).
    The per-row bodies are those of the standalone Arrow operators
    (``normalize_unicode_py``, ``gopher_reasons``,
    ``minhash_text_signature``), so both agree bit for bit."""
    from pyspark.sql import types as T

    from cerberus_spark.functions.text import gopher_reasons, normalize_unicode_py
    from cerberus_spark.operators.dedup import minhash_coeff_vectors, minhash_text_signature
    from cerberus_spark.sources.tables import spread

    quality = quality_kwargs or {}
    gopher_reasons(None, **quality)  # rejects unknown thresholds here
    mh = {**DEFAULT_MINHASH, **(minhash_kwargs or {})}
    shingle_k = mh.pop("shingle_k")
    a_vec, b_vec = minhash_coeff_vectors(mh.pop("num_hashes"))
    if mh:
        raise TypeError(f"unexpected minhash_kwargs: {sorted(mh)}")

    def compute(batches):
        for b in batches:
            if len(b) == 0:
                continue  # empty pandas yields break the Arrow cast
            texts = b[text_col]
            if normalize:
                texts = texts.map(normalize_unicode_py)
            reasons = [gopher_reasons(t, **quality) for t in texts]
            b = b.copy()
            b[text_col] = texts
            b["_keep"] = [not r for r in reasons]
            b["_reasons"] = reasons
            b["_sig"] = [
                None if r else minhash_text_signature(t, shingle_k, a_vec, b_vec)
                for t, r in zip(texts, reasons)
            ]
            yield b

    # every field nullable, as normalize_unicode and gopher_report_arrow emit them
    out = T.StructType(
        [T.StructField(f.name, f.dataType) for f in docs.schema]
        + [
            T.StructField("_keep", T.BooleanType()),
            T.StructField("_reasons", T.ArrayType(T.StringType())),
            T.StructField("_sig", T.ArrayType(T.LongType())),
        ]
    )
    return (
        spread(docs)
        .mapInPandas(compute, schema=out)
        .withColumn(
            "_gate", F.struct(F.col("_keep").alias("keep"), F.col("_reasons").alias("reasons"))
        )
        .drop("_keep", "_reasons")
    )


def _stored_signatures(signed: DataFrame, id_col: str) -> DataFrame:
    """(id, sig) rows of a :func:`_document_pass` output — the same rows
    :func:`minhash_signatures` computes over its text."""
    return signed.select(id_col, F.col("_sig").alias("sig")).filter(
        F.col("sig").isNotNull()
    )


def _fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint of a document's text (NULL for NULL text)."""
    from cerberus_spark.operators.dedup import md5_i64, normalize_text

    return md5_i64(normalize_text(text))


def _exact_verdict(docs: DataFrame, id_col: str, fp: Column) -> DataFrame:
    """``docs`` plus ``_fp`` (``fp``) and ``_keep_id``, the exact-dup
    keeper: the smallest id among the documents sharing a fingerprint,
    from ONE fingerprint-keyed window.  A NULL fingerprint (a quality
    drop, or NULL text) keys the document by its own id, so it is its
    own keeper, never a dup, and such documents spread over the
    partitions instead of piling into one NULL key."""
    fp_col = F.col("_fp")
    key = Window.partitionBy(fp_col, F.when(fp_col.isNull(), F.col(id_col)))
    return docs.withColumn("_fp", fp).withColumn("_keep_id", F.min(id_col).over(key))


def _exact_drops(tagged: DataFrame, id_col: str) -> DataFrame:
    """(id, stage, reason) of every exact dup in an
    :func:`_exact_verdict` output."""
    return tagged.filter(F.col(id_col) != F.col("_keep_id")).select(
        F.col(id_col).alias("id"),
        F.lit("exact_dup").alias("stage"),
        F.concat(F.lit("dup_of_"), F.col("_keep_id").cast("string")).alias("reason"),
    )


def _near_dup_losers(clusters: DataFrame) -> DataFrame:
    """(id, stage, reason) of every near-dup cluster loser."""
    return clusters.select(
        F.col("id"),
        F.lit("near_dup").alias("stage"),
        F.concat(F.lit("cluster_"), F.col("cluster_id").cast("string")).alias("reason"),
    )


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    quality_kwargs: dict | None = None,
    minhash_kwargs: dict | None = None,
    bands: int = 4,
    rows_per_band: int = 4,
    bucket_cap: int | None = 200,
    substring_removal: bool = False,
    winnow_g: int = 24,
    winnow_w: int = 8,
    min_run: int = 50,
    checkpoint_stages: bool = True,
    survivor_policy: str = "min_id",
    lm_filter: dict | None = None,
) -> dict[str, DataFrame]:
    """Returns lazy DataFrames:

    - ``kept``: surviving documents (normalized ``text_col``) — passed
      the quality gate, not an exact dup, not a near-dup cluster loser;
    - ``dropped``: (id, stage, reason) one row per dropped document;
    - ``report``: (stage, reason, n_docs) aggregate drop causes.

    Every input document is in exactly one of ``kept`` and ``dropped``.
    A document with NULL text passes the gate and has no fingerprint
    and no signature, so it is kept and is never anyone's dup.

    Normalization (``normalize``), the quality gate (``quality_kwargs``:
    the keywords of :func:`gopher_reasons`) and the MinHash signature
    (``minhash_kwargs``: ``num_hashes``, ``shingle_k``) of every
    document run in one Arrow pass (:func:`_document_pass`), the one
    pass paid on the FULL corpus.  Only gate-kept documents are signed.

    ``lm_filter`` (optional, default off) appends the CCNet-style LM
    quality stage AFTER dedup (and substring removal, so scores see
    final text): documents are scored with the corpus-fit unigram LM
    (:func:`unigram_logprob_scores`), bucketed by per-group type-1
    score quantiles (:func:`quantile_buckets`), and dropped unless
    their bucket is in ``keep_buckets`` — stage ``lm_quality``, reason
    ``bucket_<name>``.  Keys: ``group_col`` (e.g. ``"lang"``; None =
    global thresholds), ``keep_buckets`` (default ``("head",
    "middle")``), ``cuts_permille`` / ``labels`` (default thirds),
    ``vocab_size`` (caps the LM's broadcast unigram table),
    ``bigram_size`` (caps the broadcast bigram table — REQUIRED for
    web-scale bigram runs: the distinct-bigram set is roughly
    corpus-sized uncapped), ``model`` (``"unigram"`` default, or
    ``"bigram"`` for the context-aware
    interpolated score).  Documents the LM
    cannot score (no tokens) are KEPT — drops require positive
    evidence.  Runs only on dedup survivors: two capped count shuffles
    + broadcast joins, never a data-sized window.

    ``survivor_policy`` picks which member of every NEAR-dup cluster
    keeps: ``"min_id"`` (default — positional, same as
    ``dedup_clusters``' flag; exact-dup groups always keep min id, the
    members are byte-identical) or ``"longest"`` — the least-truncated
    copy wins (max post-normalization ``length(text_col)``, ties to
    min id), via :func:`cluster_representatives`; one extra
    partial-aggregable groupBy over the |clustered docs| slice.
    """
    from cerberus_spark.operators.dedup import minhash_dup_candidates
    from cerberus_spark.operators.graph import dedup_clusters

    # --- stage 1: normalize + quality gate + MinHash signature --------
    gated = _document_pass(docs, text_col, normalize, quality_kwargs, minhash_kwargs)
    # --- stage 2: exact dedup, decided with the gate -----------------
    gate_keep = F.col("_gate.keep")
    gated = _exact_verdict(
        gated, id_col, F.when(gate_keep, _fingerprint(F.col(text_col)))
    )
    if checkpoint_stages:
        # every output below is a filter of this one frame (gate drops,
        # exact drops, the LSH input, kept): without a checkpoint the
        # document pass and the fingerprint window re-execute once per
        # branch (~4 scans — measured 200s -> 45.6s, 4.4x, on a 1M-doc
        # corpus at local[32]).  Disable when the gated corpus exceeds
        # cluster storage and re-scanning parquet is the cheaper trade.
        gated = gated.localCheckpoint(eager=False)
    quality_drops = gated.filter(~gate_keep).select(
        F.col(id_col).alias("id"),
        F.lit("quality").alias("stage"),
        F.explode("_gate.reasons").alias("reason"),
    )
    exact_drops = _exact_drops(gated, id_col)
    exact_kept = gated.filter(gate_keep & (F.col(id_col) == F.col("_keep_id"))).drop(
        "_gate", "_fp", "_keep_id"
    )

    # --- stage 3: near-dedup (MinHash -> LSH -> clusters) ------------
    sigs = _stored_signatures(exact_kept, id_col)
    exact_kept = exact_kept.drop("_sig")
    cand = minhash_dup_candidates(
        sigs, id_col, bands=bands, rows_per_band=rows_per_band, bucket_cap=bucket_cap
    )
    # runs the candidate pipeline now, once; a small graph comes back
    # as a driver-built local table, a big one over checkpointed labels
    clusters = dedup_clusters(cand)
    if survivor_policy == "longest":
        from cerberus_spark.operators.graph import cluster_representatives

        reps = cluster_representatives(
            clusters.select("id", "cluster_id"),
            exact_kept.select(
                F.col(id_col), F.length(F.col(text_col)).alias("__q")
            ),
            id_col,
            "__q",
        )
        loser_rows = clusters.join(
            reps.select("cluster_id", "rep_id"), "cluster_id"
        ).filter(F.col("id") != F.col("rep_id"))
    elif survivor_policy == "min_id":
        loser_rows = clusters.filter(~F.col("keep"))
    else:
        raise ValueError(f"unknown survivor_policy: {survivor_policy!r}")
    losers = _near_dup_losers(loser_rows)
    kept = exact_kept.join(
        losers.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )

    # --- stage 4 (optional): substring span removal ------------------
    # (Lee et al. 2022's substring pass: docs that SURVIVED doc-level
    # dedup may still share long verbatim runs — cut them from the
    # higher id; winnowing guarantees any shared run ≥ g+w−1 chars
    # produces a candidate pair)
    if substring_removal:
        from cerberus_spark.operators.winnow import (
            remove_shared_spans,
            winnow_candidates,
            winnow_fingerprints,
        )

        fps = winnow_fingerprints(kept, text_col, id_col, g=winnow_g, w=winnow_w)
        span_pairs = winnow_candidates(fps, id_col, bucket_cap=bucket_cap)
        kept = remove_shared_spans(kept, span_pairs, text_col, id_col, min_run=min_run)

    # --- stage 5 (optional): CCNet LM-quality bucket filter ----------
    lm_drops = None
    if lm_filter is not None:
        from cerberus_spark.functions.text import unigram_logprob_scores
        from cerberus_spark.operators.sample import quantile_buckets

        lf = dict(lm_filter)
        group_col = lf.pop("group_col", None)
        keep_buckets = tuple(lf.pop("keep_buckets", ("head", "middle")))
        cuts = tuple(lf.pop("cuts_permille", (333, 667)))
        labels = tuple(lf.pop("labels", ("head", "middle", "tail")))
        vocab_size = lf.pop("vocab_size", None)
        bigram_size = lf.pop("bigram_size", None)
        model = lf.pop("model", "unigram")
        if model != "bigram" and bigram_size is not None:
            raise ValueError("lm_filter bigram_size requires model='bigram'")
        if lf:
            raise ValueError(f"unknown lm_filter keys: {sorted(lf)}")
        if not set(keep_buckets) <= set(labels):
            raise ValueError(f"keep_buckets {keep_buckets} not all in labels {labels}")
        if checkpoint_stages:
            # kept feeds BOTH the LM count passes and the final output
            kept = kept.localCheckpoint(eager=False)
        if model == "unigram":
            scores = unigram_logprob_scores(
                kept, text_col, id_col, vocab_size=vocab_size
            )
            score_col = "unigram_nll"
        elif model == "bigram":
            # context-aware: separates prose from shuffled word salad
            # the order-blind unigram score cannot see
            from cerberus_spark.functions.text import bigram_logprob_scores

            scores = bigram_logprob_scores(
                kept, text_col, id_col,
                vocab_size=vocab_size, bigram_size=bigram_size,
            )
            score_col = "bigram_nll"
        else:
            raise ValueError(f"unknown lm_filter model: {model!r}")
        if group_col is not None:
            scores = scores.join(kept.select(id_col, group_col), id_col)
        buckets = quantile_buckets(
            scores, score_col, group_col=group_col,
            cuts_permille=cuts, labels=labels,
        )
        lm_drops = buckets.filter(~F.col("bucket").isin(*keep_buckets)).select(
            F.col(id_col).alias("id"),
            F.lit("lm_quality").alias("stage"),
            F.concat(F.lit("bucket_"), F.col("bucket")).alias("reason"),
        )
        kept = kept.join(
            lm_drops.select(F.col("id").alias(id_col)), id_col, "left_anti"
        )

    dropped = quality_drops.unionByName(exact_drops).unionByName(losers)
    if lm_drops is not None:
        dropped = dropped.unionByName(lm_drops)
    report = dropped.groupBy("stage", "reason").agg(F.count(F.lit(1)).alias("n_docs"))
    return {"kept": kept, "dropped": dropped, "report": report}


def ingest_corpus_increment(
    batch: DataFrame,
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    quality_kwargs: dict | None = None,
    minhash_kwargs: dict | None = None,
) -> None:
    """Incremental-ingest half of the pipeline: run the PER-DOCUMENT
    stages (normalize + quality gate + MinHash signature in
    :func:`_document_pass`, then the exact-dedup fingerprint — all
    embarrassingly incremental, no corpus-level state) on one
    micro-batch and append the results to the work tables under
    ``work_dir`` (``gated/``, ``sigs/``, ``quality_drops/``).

    Designed as a ``foreachBatch`` sink:

        stream.writeStream.foreachBatch(
            lambda df, bid: ingest_corpus_increment(df, work_dir)
        ).trigger(availableNow=True).start()

    The corpus-LEVEL stages (exact-dup window, LSH banding,
    clustering) run over the ACCUMULATED tables in
    :func:`compact_corpus` — splitting the corpus across micro-batches
    therefore loses no duplicate pairs (test:
    ``test_incremental_corpus_matches_batch``).  foreachBatch is
    at-least-once on retry; production appends should be keyed by
    batchId (idempotent overwrite of a batch partition) — plumbing the
    driver's restart semantics is sink policy, not pipeline logic.
    """
    import os

    # the same fused pass as clean_corpus
    gated = _document_pass(
        batch, text_col, normalize, quality_kwargs, minhash_kwargs
    ).localCheckpoint(eager=False)

    gated.filter(~F.col("_gate.keep")).select(
        F.col(id_col).alias("id"),
        F.lit("quality").alias("stage"),
        F.explode("_gate.reasons").alias("reason"),
    ).write.mode("append").parquet(os.path.join(work_dir, "quality_drops"))

    survivors = (
        gated.filter(F.col("_gate.keep"))
        .drop("_gate")
        .withColumn("_fp", _fingerprint(F.col(text_col)))
        .localCheckpoint(eager=False)
    )
    survivors.drop("_sig").write.mode("append").parquet(os.path.join(work_dir, "gated"))
    _stored_signatures(survivors, id_col).write.mode("append").parquet(
        os.path.join(work_dir, "sigs")
    )


def compact_corpus(
    spark,
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    bucket_cap: int | None = 200,
) -> dict[str, DataFrame]:
    """Corpus-level half of the incremental pipeline: exact dedup +
    LSH near-dedup + clustering over the work tables accumulated by
    :func:`ingest_corpus_increment`.  Returns the same
    ``{kept, dropped, report}`` dict as :func:`clean_corpus` and, for
    the same total input, the same rows — signatures and fingerprints
    are per-document, so WHEN they were computed cannot change the
    decisions they feed.  Run after ingest completes (availableNow) or
    periodically on a schedule (kept/dropped are snapshots of the
    corpus ingested so far).
    """
    import os

    from cerberus_spark.operators.dedup import minhash_dup_candidates
    from cerberus_spark.operators.graph import dedup_clusters

    # the stored fingerprints decide the exact dups in one window,
    # checkpointed so its branches (exact drops, LSH input, kept) read it once
    gated = _exact_verdict(
        spark.read.parquet(os.path.join(work_dir, "gated")), id_col, F.col("_fp")
    ).localCheckpoint(eager=False)
    quality_drops = spark.read.parquet(os.path.join(work_dir, "quality_drops"))
    exact_drops = _exact_drops(gated, id_col)
    exact_kept = gated.filter(F.col(id_col) == F.col("_keep_id")).drop("_fp", "_keep_id")

    sigs = spark.read.parquet(os.path.join(work_dir, "sigs")).join(
        exact_kept.select(id_col), id_col, "left_semi"
    )
    cand = minhash_dup_candidates(
        sigs, id_col, bands=bands, rows_per_band=rows_per_band, bucket_cap=bucket_cap
    )
    losers = _near_dup_losers(dedup_clusters(cand).filter(~F.col("keep")))
    kept = exact_kept.join(
        losers.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    dropped = quality_drops.unionByName(exact_drops).unionByName(losers)
    report = dropped.groupBy("stage", "reason").agg(F.count(F.lit(1)).alias("n_docs"))
    return {"kept": kept, "dropped": dropped, "report": report}


def clean_transcripts(
    turns: DataFrame,
    conv_col: str,
    order_cols: list[str],
    state_col: str,
    ts_col: str,
    allowed: set[tuple[str, str]],
    allowed_first: set[str] | None = None,
    token_col: str | None = None,
    num_hashes: int = 16,
    shingle_k: int = 2,
    bands: int = 4,
    rows_per_band: int = 4,
    bucket_cap: int | None = 200,
    threshold: float = 0.5,
    checkpoint_stages: bool = True,
    survivor_policy: str = "min_id",
) -> dict[str, DataFrame]:
    """Transcript twin of :func:`clean_corpus`, at CONVERSATION
    granularity: health-gate -> conversation near-dedup -> keep/drop
    report, every stage an already oracle-gated operator.

    ``survivor_policy`` picks which member of every near-dup cluster
    keeps, mirroring :func:`clean_corpus`: ``"min_id"`` (default —
    positional min conversation key, ``dedup_clusters``' flag) or
    ``"longest"`` (the conversation with the MOST TURNS survives, ties
    to min key — via :func:`cluster_representatives`; costs one extra
    per-conversation turn count, a map-side-combined |convs|-row
    shuffle, only on this path).

    - stage 1 **health**: conversations with ANY sequence-structure
      violation (``checks.sequence.sequence_violations`` — transition
      grammar, NULL states, timestamp regressions, first-state; one
      window pass) are quarantined whole — the conversation-level
      analog of the corpus quality gate.
    - stage 2 **near_dup**: among HEALTHY conversations (dedup must not
      let a quarantined conversation steal survivorship), verified
      near-dup clusters (``sequence_neardup_pairs`` -> Jaccard >=
      ``threshold`` -> ``dedup_clusters``) keep their min-key member;
      every other member drops as ``cluster_loser``.  Exact sequence
      duplicates are a subcase (identical sequences share all bands and
      have Jaccard 1), so no separate exact stage is needed.

    Returns lazy DataFrames:

    - ``kept``: surviving TURNS (all input columns);
    - ``dropped``: (conv, stage, reason) — one row per (conversation,
      violated rule) for health, one per cluster loser for near_dup;
    - ``report``: (stage, reason, n_convs) — drop causes PLUS a
      ('kept', 'survivor', n) row, so the report is self-accounting:
      n_unhealthy + n_losers + n_kept = |convs| (health counts one
      conv under EVERY rule it violates, so sum the distinct-conv
      stage totals, not the per-reason rows).

    NULL conversation keys: the verdict anti-joins use plain (not
    NULL-safe) equality, so a NULL-keyed turn can never be quarantined
    or deduped — it always survives to ``kept`` and counts as one
    survivor conversation.  Validate/repair NULL keys upstream (the
    rule compiler's ``required`` does exactly this) if that is not the
    intent.

    Scale shape: ONE window pass over the corpus (health), one
    |turns|-keyed distinct for the conversation census, the capped
    near-dup chain over the healthy slice, and |convs|-sized joins for
    the verdicts; ``checkpoint_stages`` localCheckpoints the
    |violations|-sized health-drop frame because the lineage below
    branches FOUR ways (healthy filter, dropped rows, report counts,
    kept-conv census) — checkpointing at the drop rows (rather than
    the distinct-conv set derived from them) means every branch,
    including the ``dropped``/``report`` outputs, reads the single
    materialized window result instead of re-running the corpus sort
    per consumer.
    """
    from cerberus_spark.checks.sequence import sequence_violations
    from cerberus_spark.operators.dedup import sequence_neardup_pairs
    from cerberus_spark.operators.graph import dedup_clusters

    token_col = token_col or state_col
    conv = F.col(conv_col).alias("conv")

    # --- stage 1: conversation health gate (one window pass) ---------
    vio = sequence_violations(
        turns, conv_col, state_col, ts_col, order_cols, allowed, allowed_first
    )
    dropped_health = vio.select(conv, "rule").distinct().select(
        "conv", F.lit("health").alias("stage"), F.col("rule").alias("reason")
    )
    if checkpoint_stages:
        dropped_health = dropped_health.localCheckpoint(eager=False)
    unhealthy = dropped_health.select("conv").distinct()
    healthy_turns = turns.join(
        unhealthy, turns[conv_col] == unhealthy["conv"], "left_anti"
    )

    # --- stage 2: near-dup survivorship among healthy conversations --
    pairs = sequence_neardup_pairs(
        healthy_turns, conv_col, order_cols, token_col,
        num_hashes, shingle_k, bands, rows_per_band, bucket_cap, threshold,
        share_shingles=checkpoint_stages,
    )
    clusters = dedup_clusters(pairs)
    if survivor_policy == "longest":
        from cerberus_spark.operators.graph import cluster_representatives

        sizes = healthy_turns.groupBy(F.col(conv_col)).agg(
            F.count(F.lit(1)).alias("__q")
        )
        reps = cluster_representatives(
            clusters.select("id", "cluster_id"), sizes, conv_col, "__q"
        )
        loser_rows = clusters.join(
            reps.select("cluster_id", "rep_id"), "cluster_id"
        ).filter(F.col("id") != F.col("rep_id"))
    elif survivor_policy == "min_id":
        loser_rows = clusters.filter(~F.col("keep"))
    else:
        raise ValueError(f"unknown survivor_policy: {survivor_policy!r}")
    losers = loser_rows.select(F.col("id").alias("conv"))
    if checkpoint_stages:
        losers = losers.localCheckpoint(eager=False)
    dropped_dup = losers.select(
        "conv", F.lit("near_dup").alias("stage"), F.lit("cluster_loser").alias("reason")
    )

    kept = healthy_turns.join(
        losers, healthy_turns[conv_col] == losers["conv"], "left_anti"
    )
    dropped = dropped_health.unionByName(dropped_dup)

    kept_convs = (
        turns.select(conv).distinct()
        .join(unhealthy, "conv", "left_anti")
        .join(losers, "conv", "left_anti")
    )
    report = (
        dropped.groupBy("stage", "reason")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .unionByName(
            kept_convs.agg(F.count(F.lit(1)).alias("n_convs")).select(
                F.lit("kept").alias("stage"),
                F.lit("survivor").alias("reason"),
                "n_convs",
            )
        )
    )
    return {"kept": kept, "dropped": dropped, "report": report}


def ingest_transcript_increment(batch: DataFrame, work_dir: str, batch_id: int) -> None:
    """Incremental-ingest half of the transcript pipeline: store one
    micro-batch of turns under ``<work_dir>/turns``.

    The batch lands in its own ``batch_id=<n>`` partition directory
    (pass foreachBatch's second argument) with OVERWRITE semantics — a
    foreachBatch retry (at-least-once on failure) rewrites the same
    directory instead of appending a duplicate copy, so ingest is
    idempotent per batch.  Unlike the document pipeline (whose
    exact-dedup stage absorbs duplicated docs), duplicated TURNS
    corrupt the health gate — two copies of every turn manufacture
    self-transitions no grammar allows and quarantine every
    conversation — so transcript ingest must be idempotent, not merely
    at-least-once.  :func:`compact_transcripts` drops the ``batch_id``
    partition column it induces.

    Deliberately storage-only — unlike :func:`ingest_corpus_increment`
    (whose normalize / quality-gate / fingerprint / signature stages
    are all PER-DOCUMENT and therefore safely incremental), every
    transcript-cleaning stage is CONVERSATION-level and a conversation
    can span micro-batches: a turn's bigram shingle needs its ordered
    neighbor (which may arrive in a later batch), the health gate
    judges whole sequences, and survivorship needs the full
    conversation census.  Precomputing any of those per batch would
    bake in batch boundaries and break the replay ≡ batch guarantee,
    so the conversation stages all run in :func:`compact_transcripts`.

    Cross-RUN idempotency (not re-ingesting already-seen input files
    on the next scheduled run) is the stream's checkpoint's job — pass
    ``checkpointLocation`` on the writeStream (the CLI job pins it to
    ``<work_dir>/_checkpoint``).
    """
    import os

    batch.write.mode("overwrite").parquet(
        os.path.join(work_dir, "turns", f"batch_id={int(batch_id)}")
    )


def compact_transcripts(
    spark,
    work_dir: str,
    conv_col: str,
    order_cols: list[str],
    state_col: str,
    ts_col: str,
    allowed: set[tuple[str, str]],
    allowed_first: set[str] | None = None,
    **clean_kwargs,
) -> dict[str, DataFrame]:
    """Conversation-level half of the incremental transcript pipeline:
    :func:`clean_transcripts` over the turns accumulated by
    :func:`ingest_transcript_increment`.  Same ``{kept, dropped,
    report}`` contract; for the same total input the same rows — no
    per-turn state was precomputed at ingest, so micro-batch slicing
    cannot influence any conversation-level decision (test:
    ``test_incremental_transcripts_match_batch``).  Run after ingest
    completes (availableNow) or on a schedule (outputs are snapshots
    of the corpus ingested so far).  The ``batch_id`` partition column
    induced by per-batch ingest directories is dropped — it is ingest
    bookkeeping, not an input column.

    Raises ``ValueError`` when ``<work_dir>/turns`` holds files outside
    ``batch_id=<n>`` directories (a flat append from an older ingest):
    partition discovery reads only the ``batch_id`` directories, so the
    flat turns would be dropped without a word."""
    import os

    turns_dir = os.path.join(work_dir, "turns")
    path = spark._jvm.org.apache.hadoop.fs.Path(turns_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        entries = [(st.getPath().getName(), st.isDirectory()) for st in fs.listStatus(path)]
        stray = sorted(
            name
            for name, is_dir in entries
            if not name.startswith(("_", ".")) and not (is_dir and name.startswith("batch_id="))
        )
        if stray:
            raise ValueError(
                f"{turns_dir} holds {stray} outside batch_id=<n> directories; "
                "move them into a batch_id=<n> directory or delete them"
            )
    turns = spark.read.parquet(turns_dir).drop("batch_id")
    return clean_transcripts(
        turns, conv_col, order_cols, state_col, ts_col,
        allowed, allowed_first, **clean_kwargs,
    )
