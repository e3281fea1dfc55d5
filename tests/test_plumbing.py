"""Multimodal plumbing, checkpoint/resume, skew helpers, streaming, and
the contract table's cross-engine lint."""

from __future__ import annotations

import inspect
import re

import pytest
from pyspark.sql import functions as F

from cerberus_spark.functions.multimodal import extract_features, synthesize_media, FEATURE_DIM
from cerberus_spark.plans.checkpoint import AuditLog
from cerberus_spark.plans.skew import salted_repartition, two_stage_agg
from cerberus_spark.sources.transcripts import generate_transcripts
from cerberus_spark.streaming.validate_stream import (
    run_stream_to_memory,
    streaming_dedup,
    validate_stream,
)


def test_multimodal_features(spark):
    media = synthesize_media(spark, 50)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r.features)
    # deterministic across runs
    again = {r.media_id: r.features for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_audit_resume(spark, tmp_path):
    log = AuditLog(spark, str(tmp_path / "audit"))
    units = spark.createDataFrame([(f"f{i}",) for i in range(6)], "unit string")
    assert log.pending(units).count() == 6
    done = spark.createDataFrame(
        [("f0", 10, 9, 1), ("f3", 5, 5, 0)], "unit string, rows long, n_pass long, n_fail long"
    )
    log.record(done)
    pend = {r.unit for r in log.pending(units).collect()}
    assert pend == {"f1", "f2", "f4", "f5"}
    # idempotent re-record of f0 leaves pending unchanged
    log.record(done.filter(F.col("unit") == "f0"))
    assert {r.unit for r in log.pending(units).collect()} == pend


def test_salted_repartition_preserves_rows(spark):
    df = generate_transcripts(spark, 200)
    out = salted_repartition(df, "conv_id", n_salts=8, partitions=16)
    assert out.count() == df.count()
    assert sorted(out.columns) == sorted(df.columns)


def test_two_stage_agg_matches_plain(spark):
    df = generate_transcripts(spark, 300)
    plain = {r.conv_id: r.n for r in df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {
        r.conv_id: r.n
        for r in two_stage_agg(
            df,
            "conv_id",
            lambda: [F.count(F.lit(1)).alias("pn")],
            lambda: [F.sum("pn").alias("n")],
        ).collect()
    }
    assert plain == salted


RULES = {
    "role": {"required": True, "allowed": ["system", "user", "assistant", "tool"]},
    "text": {"required": True},
}


def test_streaming_validation(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    generate_transcripts(spark, 150).write.parquet(src)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    out = run_stream_to_memory(
        spark, src, schema, lambda s: validate_stream(s, RULES), query_name="vstream"
    )
    batch = validate_stream(spark.read.parquet(src), RULES)
    assert out.count() == batch.count()
    assert out.filter(~F.col("_passed")).count() == batch.filter(~F.col("_passed")).count()


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    generate_transcripts(spark, 150).write.parquet(src)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    out = run_stream_to_memory(
        spark,
        src,
        schema,
        lambda s: streaming_dedup(s, ["conv_id", "turn_idx"]),
        query_name="dstream",
    )
    distinct_keys = (
        spark.read.parquet(src).select("conv_id", "turn_idx").distinct().count()
    )
    assert out.count() == distinct_keys


def test_stateful_streaming_turn_counts(spark, tmp_path):
    """applyInPandasWithState accumulates per-conv state across
    micro-batches (maxFilesPerTrigger=1 forces multiple batches)."""
    from cerberus_spark.sources.transcripts import generate_transcripts
    from cerberus_spark.streaming.validate_stream import stateful_turn_counts

    src = str(tmp_path / "stream_src")
    df = generate_transcripts(spark, 60)
    df.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    expected = {r["conv_id"]: r["n"] for r in
                df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_turn_counts(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("turn_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits once per touched key per batch; the running
    # total is the MAX emission per key
    got = {
        r["conv_id"]: r["n"]
        for r in spark.sql(
            "SELECT conv_id, max(n_turns) AS n FROM turn_counts GROUP BY conv_id"
        ).collect()
    }
    assert got == expected


def test_streaming_drift_monitor_matches_batch(spark, tmp_path):
    """The continuous drift monitor (append-mode sealed windows ->
    foreachBatch drift) must equal the batch windowed_drift_report on
    exactly the windows the watermark sealed."""
    from cerberus_spark.checks.drift import (
        categorical_histogram,
        windowed_categorical_histograms,
        windowed_drift_report,
    )
    from cerberus_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from cerberus_spark.streaming import streaming_drift_monitor

    src = str(tmp_path / "drift_src")
    generate_transcripts(spark, 400).write.parquet(src)
    batch = spark.read.parquet(src)
    baseline = categorical_histogram(batch, "role")

    sink = str(tmp_path / "drift_out")
    q = streaming_drift_monitor(
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src),
        baseline,
        "role",
        sink,
        window_duration="1 hour",
        watermark="0 seconds",
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination()

    got = {
        r.window_start: (r.kl, r.psi)
        for r in spark.read.parquet(sink).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    hists = windowed_categorical_histograms(batch, "role", "ts", "1 hour")
    sealed = hists.filter(F.col("w.end") <= F.lit(max_ts))
    exp = {
        r.window_start: (r.kl, r.psi)
        for r in windowed_drift_report(sealed, baseline, "role").collect()
    }
    assert got.keys() == exp.keys() and len(exp) >= 3
    for w in exp:
        assert abs(got[w][0] - exp[w][0]) < 1e-9
        assert abs(got[w][1] - exp[w][1]) < 1e-9


def test_streaming_drift_monitor_pluggable_chi2(spark, tmp_path):
    """report_fn swaps the statistic: the monitor running
    windowed_chi2_report must equal the batch chi2 report on the
    sealed windows."""
    from cerberus_spark.checks.drift import (
        categorical_histogram,
        windowed_categorical_histograms,
        windowed_chi2_report,
    )
    from cerberus_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from cerberus_spark.streaming import streaming_drift_monitor

    src = str(tmp_path / "chi_src")
    generate_transcripts(spark, 300).write.parquet(src)
    batch = spark.read.parquet(src)
    baseline = categorical_histogram(batch, "role")

    sink = str(tmp_path / "chi_out")
    q = streaming_drift_monitor(
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src),
        baseline,
        "role",
        sink,
        window_duration="1 hour",
        watermark="0 seconds",
        checkpoint_dir=str(tmp_path / "chi_ckpt"),
        trigger_available_now=True,
        report_fn=windowed_chi2_report,
    )
    q.awaitTermination()

    got = {r.window_start: (r.chi2, r.g_stat) for r in spark.read.parquet(sink).collect()}
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    sealed = windowed_categorical_histograms(batch, "role", "ts", "1 hour").filter(
        F.col("w.end") <= F.lit(max_ts)
    )
    exp = {
        r.window_start: (r.chi2, r.g_stat)
        for r in windowed_chi2_report(sealed, baseline, "role").collect()
    }
    assert got.keys() == exp.keys() and len(exp) >= 3
    for w in exp:
        assert abs(got[w][0] - exp[w][0]) < 1e-6
        assert abs(got[w][1] - exp[w][1]) < 1e-6


def test_resize_images_plumbing(spark):
    from cerberus_spark.functions.multimodal import resize_images, synthesize_media

    media = synthesize_media(spark, 60)
    out = resize_images(media, 32, 24)
    rows = out.collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images > 0
    for r in rows:
        assert (r.width, r.height) == (32, 24)
        assert len(r.payload) == 32 * 24
    # deterministic across runs and partitionings
    again = resize_images(media.repartition(7), 32, 24).collect()
    assert {r.media_id: bytes(r.payload) for r in rows} == {
        r.media_id: bytes(r.payload) for r in again
    }


def test_sample_frames_plumbing(spark):
    from cerberus_spark.functions.multimodal import sample_frames, synthesize_media

    media = synthesize_media(spark, 60)
    out = sample_frames(media, every_ms=10_000).collect()
    vids = {
        r.media_id: r.duration_ms for r in media.filter("kind = 'video'").collect()
    }
    got = {}
    for r in out:
        got.setdefault(r.media_id, []).append((r.frame_idx, r.ts_ms, bytes(r.payload)))
    assert set(got) == set(vids)
    for mid, frames in got.items():
        n_expected = max(1, vids[mid] // 10_000)
        assert len(frames) == n_expected
        idxs = sorted(i for i, _, _ in frames)
        assert idxs == list(range(n_expected))          # dense frame index
        assert len({f for _, _, f in frames}) == len(frames)  # distinct frames


def test_real_decode_env_gate_raises(spark, monkeypatch):
    from cerberus_spark.functions.multimodal import resize_images, synthesize_media

    monkeypatch.setenv("CERBERUS_SPARK_REAL_DECODE", "1")
    media = synthesize_media(spark, 6)
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises((NotImplementedError, Py4JJavaError, Exception)):
        resize_images(media, 8, 8).collect()


# Pairs whose sum is of log, ratio or distance terms: there is no
# integer-cents form, so both engines round the double sum instead.
_ROUNDED_SUM_PAIRS = {
    "drift_event_type": "KL/PSI: sum of p*ln(p/q) terms",
    "drift_value": "KL/PSI: sum of p*ln(p/q) terms",
    "windowed_drift": "per-window KL/PSI: sum of p*ln(p/q) terms",
    "windowed_drift_value": "per-window KL/PSI: sum of p*ln(p/q) terms",
    "chi2_drift": "chi-square/G: sum of (o-e)^2/e and o*ln(o/e) terms",
    "windowed_chi2": "per-window chi-square/G: sum of (o-e)^2/e and o*ln(o/e) terms",
    "w1_drift": "Wasserstein-1: sum of CDF gaps times bin widths",
    "embedding_drift": "centroid cosine: dot product over vector norms",
}
_ROUNDED_SUM = re.compile(r"round\(\s*(?:F\.)?sum\(", re.IGNORECASE)


def test_contract_pairs_sum_money_in_integer_cents():
    """Every contract pair has an oracle, and no pair rounds a double
    sum: a double sum depends on the summation order, so its rounding
    can differ between engines and partitionings.  Money sums add
    ``round(value * 100)`` as a long and divide by 100 at the end."""
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    assert queries.keys() == oracles.keys()
    rounded = {
        name
        for name, fn in queries.items()
        if _ROUNDED_SUM.search(inspect.getsource(fn)) or _ROUNDED_SUM.search(oracles[name])
    }
    assert rounded - _ROUNDED_SUM_PAIRS.keys() == set()
    assert _ROUNDED_SUM_PAIRS.keys() - rounded == set()  # no stale exemption
