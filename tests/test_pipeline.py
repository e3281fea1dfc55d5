"""Full-validation pipeline + spark-submit job: golden counts from the
pure-Python twin, sink layout, and checkpoint-resume."""

from __future__ import annotations

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cerberus_spark.checks.referential import referential_violations
from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.pipeline import (
    KEY_COLS,
    TRANSCRIPT_RULES,
    all_violations,
    drift_reports,
    run_full_validation,
    sequence_violation_rows,
    transcript_stats,
)
from cerberus_spark.plans.checkpoint import normalize_unit
from cerberus_spark.sources.catalog import TOOLS, tool_catalog
from cerberus_spark.validation import validate
from cerberus_spark.sources.transcripts import generate_transcripts, py_rows
from python_validate import python_validate

N_CONVS = 700


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, N_CONVS).cache()


@pytest.fixture(scope="module")
def expected(spark):
    """Closed-form expected (field, rule) -> count from the Python twin."""
    rows = py_rows(N_CONVS)
    counts: Counter = Counter()
    for r in rows:
        for f, rule, _v in python_validate(
            {k: v for k, v in r.items() if not k.startswith("_")}, TRANSCRIPT_RULES
        ):
            counts[(f, rule)] += 1
    # uniqueness: keys seen more than once
    keys = Counter((r["conv_id"], r["turn_idx"]) for r in rows)
    counts[("(conv_id,turn_idx)", "unique")] = sum(1 for c in keys.values() if c > 1)
    # referential: non-null tool absent from catalog
    valid = {t[0] for t in TOOLS}
    counts[("tool", "referential")] = sum(
        1 for r in rows if r["tool"] is not None and r["tool"] not in valid
    )
    return counts


def test_all_violations_matches_python_twin(spark, transcripts, expected):
    got = Counter(
        {
            (r["field"], r["rule"]): r["n"]
            for r in all_violations(spark, transcripts)
            .groupBy("field", "rule")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    )
    assert got == Counter({k: v for k, v in expected.items() if v})


def test_drift_reports_two_rows_finite(spark, transcripts):
    rows = drift_reports(transcripts).collect()
    assert sorted(r["column_name"] for r in rows) == ["role", "text_len", "tool"]
    for r in rows:
        assert r["kl"] is not None and r["kl"] >= 0.0
        assert r["psi"] is not None


def test_run_full_validation_sink_layout(spark, transcripts, tmp_path):
    sink = str(tmp_path / "sink")
    run_full_validation(spark, transcripts, sink_dir=sink)
    sunk = spark.read.parquet(f"{sink}/violations")
    assert sunk.columns == ["conv_id", "turn_idx", "field", "rule", "value"]
    assert sunk.count() > 0


def test_partition_summary_covers_all_rows(spark, transcripts, tmp_path):
    """The partition summary rows ``run_full_validation`` returns,
    built from ``_passed`` alone, cover every row and equal
    ``validate``'s."""
    got = run_full_validation(spark, transcripts, sink_dir=str(tmp_path / "sink"))
    parts = got["partition_summary"]
    assert sum(r["rows"] for r in parts) == transcripts.count()
    want = validate(transcripts, TRANSCRIPT_RULES, key_cols=KEY_COLS).partition_summary()
    assert sorted(parts) == sorted(want.collect())


def test_validate_job_end_to_end_with_resume(spark, transcripts, tmp_path):
    """Drive jobs/validate_job.py main() twice: first run validates and
    records the audit; second run anti-joins everything out."""
    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(inp)
    sink = str(tmp_path / "sink")
    audit = str(tmp_path / "audit")

    rc = main(["--input", inp, "--sink", sink, "--resume", audit])
    assert rc == 0
    v = spark.read.parquet(f"{sink}/violations")
    assert v.count() > 0
    assert spark.read.parquet(f"{sink}/rule_summary").count() > 0

    rc2 = main(["--input", inp, "--sink", str(tmp_path / "sink2"), "--resume", audit])
    assert rc2 == 0
    # second run found no pending files -> wrote nothing
    import os

    assert not os.path.exists(str(tmp_path / "sink2"))


def test_validate_job_sequence_checks_flag(spark, transcripts, tmp_path):
    """--sequence-checks lands the sequence family as seq_* rows in
    <sink>/violations and the per-conversation gate in
    <sink>/conversation_health; the generator's 'critic' roles break
    the grammar and its duplicated turn-1 rows surface as dup indexes."""
    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(inp)
    sink = str(tmp_path / "sink")

    rc = main(["--input", inp, "--sink", sink, "--sequence-checks"])
    assert rc == 0
    v = spark.read.parquet(f"{sink}/violations")
    assert v.filter(F.col("rule") == "seq_transition").count() > 0
    health = spark.read.parquet(f"{sink}/conversation_health")
    assert health.filter(F.col("n_dup_idx") > 0).count() > 0


@pytest.mark.parametrize("sequence_checks", [True, False])
def test_validate_job_equals_run_full_validation(spark, transcripts, tmp_path, sequence_checks):
    """The CLI is a thin caller of ``run_full_validation``: its
    violations equal the pipeline's sink as a multiset, and its summary
    tables hold the rows the pipeline returns."""
    from cerberus_spark.pipeline import SUMMARY_SCHEMAS
    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(inp)
    cli, rfv = str(tmp_path / "cli"), str(tmp_path / "rfv")
    flags = ["--sequence-checks"] if sequence_checks else []
    assert main(["--input", inp, "--sink", cli, *flags]) == 0
    got = run_full_validation(
        spark, spark.read.parquet(inp), sink_dir=rfv, sequence_checks=sequence_checks
    )

    def bag(rows):  # repr: column_stats rows hold lists
        return Counter(repr(tuple(r)) for r in rows)

    def rows(path):
        return bag(spark.read.parquet(path).collect())

    assert rows(f"{cli}/violations") == rows(f"{rfv}/violations")
    if sequence_checks:
        assert rows(f"{cli}/conversation_health") == rows(f"{rfv}/conversation_health")
    for name in SUMMARY_SCHEMAS:
        if name != "drift":
            assert rows(f"{cli}/{name}") == bag(got[name]), name
    # the self-drift KL/PSI sums floats in histogram collect order
    drift = {r["column_name"]: r for r in spark.read.parquet(f"{cli}/drift").collect()}
    assert set(drift) == {r["column_name"] for r in got["drift"]} == {"role", "text_len", "tool"}
    for r in got["drift"]:
        for k in ("kl", "psi"):
            assert abs(drift[r["column_name"]][k] - r[k]) < 1e-9, (r, drift[r["column_name"]])


def test_validate_job_resume_audit_exact_per_file(spark, transcripts, tmp_path):
    """The --resume audit records exact per-file rows/n_pass/n_fail,
    equal to a direct per-file groupBy, even when several input files
    are read into one partition."""
    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.repartition(4).write.mode("overwrite").parquet(inp)
    audit = str(tmp_path / "audit")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        assert spark.read.parquet(inp).rdd.getNumPartitions() == 1
        assert main(["--input", inp, "--sink", str(tmp_path / "sink"), "--resume", audit]) == 0
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    got = {
        r["unit"]: (r["rows"], r["n_pass"], r["n_fail"])
        for r in spark.read.parquet(audit).collect()
    }
    ann = validate(spark.read.parquet(inp), TRANSCRIPT_RULES, key_cols=KEY_COLS).annotated
    want = {
        r["unit"]: (r["rows"], r["n_pass"], r["rows"] - r["n_pass"])
        for r in ann.groupBy(normalize_unit(F.input_file_name()).alias("unit"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_passed").cast("long")).alias("n_pass"),
        )
        .collect()
    }
    assert got == want and len(want) == 4
    assert sum(n_fail for _, _, n_fail in want.values()) > 0


def test_validate_job_job_budget(spark, transcripts, tmp_path, count_jobs):
    """The CLI launches at most 4 Spark jobs beyond
    ``run_full_validation``'s on the same input: the writes of the
    summary tables, no check, no second cascade and no count."""
    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(inp)
    for flags in ([], ["--sequence-checks"]):
        seq = bool(flags)
        run_full_validation(spark, spark.read.parquet(inp), sink_dir=str(tmp_path / "warm"),
                            sequence_checks=seq)
        with count_jobs() as rfv:
            run_full_validation(spark, spark.read.parquet(inp), sink_dir=str(tmp_path / "rfv"),
                                sequence_checks=seq)
        with count_jobs() as cli:
            assert main(["--input", inp, "--sink", str(tmp_path / "cli"), *flags]) == 0
        assert cli.n - rfv.n <= 4, (flags, cli.n, rfv.n)


def _median_split(transcripts):
    split = transcripts.agg(
        F.percentile_approx("ts", F.lit(0.5), F.lit(10000)).alias("m")
    ).collect()[0]["m"]
    return (
        transcripts.filter(F.col("ts") < F.lit(split)),
        transcripts.filter(F.col("ts") >= F.lit(split)),
    )


def test_singlepass_drift_matches_two_sided(spark, transcripts):
    """Both drift_reports paths, the self-baseline median split and an
    explicit baseline of the same split, must equal drift_report over
    that split's two histograms."""
    from cerberus_spark.checks.drift import (
        categorical_histogram,
        drift_report,
        numeric_histogram,
    )
    from cerberus_spark.pipeline import TEXT_LEN_EDGES

    base, cur = _median_split(transcripts)

    def text_len(df):
        return numeric_histogram(
            df.select(F.length("text").alias("text_len")), "text_len", TEXT_LEN_EDGES
        )

    exp = {}
    for name, hist in (
        ("role", lambda df: categorical_histogram(df, "role")),
        ("tool", lambda df: categorical_histogram(df, "tool")),
        ("text_len", text_len),
    ):
        r = drift_report(hist(base), hist(cur), name).collect()[0]
        exp[name] = (r["kl"], r["psi"])
    for got in (drift_reports(cur, baseline=base), drift_reports(transcripts)):
        rows = {r["column_name"]: (r["kl"], r["psi"]) for r in got.collect()}
        assert set(rows) == set(exp) == {"role", "text_len", "tool"}
        for name, pair in rows.items():
            assert pair == pytest.approx(exp[name], abs=1e-9), (name, pair, exp[name])


def test_drift_reports_empty_side(spark, transcripts):
    """An empty baseline or an empty current side gives NULL kl/psi for
    every column on both paths, never a division by zero.  The median
    split leaves its baseline empty when every row has the same ts."""
    empty = transcripts.limit(0)
    one_ts = transcripts.withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    for out in (
        drift_reports(transcripts, baseline=empty),
        drift_reports(empty, baseline=transcripts),
        drift_reports(one_ts),
        drift_reports(empty),
    ):
        assert {r["column_name"]: (r["kl"], r["psi"]) for r in out.collect()} == {
            name: (None, None) for name in ("role", "text_len", "tool")
        }


def test_drift_reports_baseline_takes_no_more_jobs(spark, transcripts, count_jobs):
    """An explicit baseline runs the self-baseline's one aggregate over
    a union, so it launches no more Spark jobs than the median split."""
    base, cur = _median_split(transcripts)
    drift_reports(cur, baseline=base).collect()  # warm both plans once
    drift_reports(transcripts).collect()
    with count_jobs() as with_baseline:
        drift_reports(cur, baseline=base).collect()
    with count_jobs() as self_baseline:
        drift_reports(transcripts).collect()
    assert 0 < with_baseline.n <= self_baseline.n, (with_baseline.n, self_baseline.n)


def test_transcript_stats_shape(spark, transcripts):
    from cerberus_spark.pipeline import transcript_stats

    rows = {r["column_name"]: r for r in transcript_stats(transcripts).collect()}
    assert set(rows) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    assert rows["text"]["null_rate"] > 0          # generator injects null text
    assert rows["role"]["approx_distinct"] >= 4   # HLL ballpark
    q = rows["text"]["text_len_q50_q95_q99"]
    assert len(q) == 3 and q[0] <= q[1] <= q[2]


def test_validate_job_expect_schema_gate(spark, transcripts, tmp_path):
    """--expect-schema fails fast (rc 2, no sink output) on contract
    drift and passes through on a matching/widened contract."""
    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(inp)
    sink = str(tmp_path / "sink")

    bad = "conv_id string, turn_idx int, role int, missing_col double, ts timestamp"
    rc = main(["--input", inp, "--sink", sink, "--expect-schema", bad])
    assert rc == 2
    import os as _os

    assert not _os.path.exists(f"{sink}/violations")  # failed before any job

    good = ("conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
    rc = main(["--input", inp, "--sink", sink, "--expect-schema", good])
    assert rc == 0
    assert spark.read.parquet(f"{sink}/violations").count() > 0


def test_validate_job_suggest_rules_bootstrap(spark, transcripts, tmp_path):
    """--suggest-rules profiles the input and writes a rules JSON the
    job can consume on the next run via --rules (the bootstrap loop)."""
    import json

    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(inp)
    out_json = str(tmp_path / "suggested.json")

    rc = main(["--input", inp, "--sink", str(tmp_path / "unused"),
               "--suggest-rules", out_json])
    assert rc == 0
    with open(out_json) as fh:
        rules = json.load(fh)
    assert "role" in rules and "allowed" in rules["role"]
    assert set(rules["role"]["allowed"]) >= {"user", "assistant"}

    # feed the suggestion straight back: observed-envelope rules over
    # the SAME data -> the run completes and flags ~nothing beyond the
    # nullable-envelope classes by construction
    sink = str(tmp_path / "sink")
    rc2 = main(["--input", inp, "--sink", sink, "--rules", out_json])
    assert rc2 == 0
    v = spark.read.parquet(f"{sink}/violations")
    assert v.filter(F.col("rule") == "allowed").count() == 0


def test_pipeline_sequence_checks_flag(spark, transcripts, tmp_path):
    """sequence_checks=True adds the sequence family to the violations
    sink (rules prefixed 'seq_') and writes the conversation_health
    gate next to it; counts equal the standalone (oracle-gated)
    operators' — composition, not new math.  Flag off: neither
    appears."""
    from cerberus_spark import pipeline

    sink = str(tmp_path / "seq")
    got = pipeline.run_full_validation(spark, transcripts, sink_dir=sink, sequence_checks=True)
    seq_rows = spark.read.parquet(f"{sink}/violations").filter(F.col("rule").startswith("seq_"))
    standalone = pipeline.sequence_violation_rows(transcripts)
    n_seq = standalone.count()
    assert n_seq > 0  # generator's 'critic' roles break the grammar
    assert seq_rows.count() == n_seq
    assert set(seq_rows.columns) == {"conv_id", "turn_idx", "field", "rule", "value"}
    assert sum(r["n_violations"] for r in got["rule_summary"] if r["rule"].startswith("seq_")) == n_seq

    health = spark.read.parquet(f"{sink}/conversation_health")
    assert {"conv", "n_turns", "n_transition", "keep"} <= set(health.columns)
    assert health.count() == transcripts.select("conv_id").distinct().count()
    assert health.filter(~F.col("keep")).count() > 0

    sink0 = str(tmp_path / "plain")
    got0 = pipeline.run_full_validation(spark, transcripts, sink_dir=sink0)
    assert not (tmp_path / "plain" / "conversation_health").exists()
    assert spark.read.parquet(f"{sink0}/violations").filter(F.col("rule").startswith("seq_")).count() == 0
    assert not any(r["rule"].startswith("seq_") for r in got0["rule_summary"])


def test_conversation_health_from_sink_equals_direct(spark, transcripts, tmp_path):
    """The sink rollup (seq_* rows -> per-conv counts) must reproduce
    conversation_health(df) exactly — the benched path never pays the
    sequence window pass twice, and loses nothing for it."""
    from cerberus_spark import pipeline

    sink = str(tmp_path / "sink")
    pipeline.run_full_validation(spark, transcripts, sink_dir=sink, sequence_checks=True)
    sunk = spark.read.parquet(f"{sink}/violations")
    rolled = {
        r.conv: tuple(r)
        for r in pipeline.conversation_health_from_violations(transcripts, sunk).collect()
    }
    direct = {
        r.conv: tuple(r) for r in pipeline.conversation_health(transcripts).collect()
    }
    assert rolled == direct and len(direct) > 0


def _dirty_transcripts(spark):
    """Exactly the input the sequence validator exists for, which the
    generator never emits: duplicate turn_idx (so turn_idx alone is not
    a total order), NULL turn_idx (including two in one conversation),
    and a fully-identical row pair (interchangeable under any order)."""
    ts = __import__("datetime").datetime
    rows = [
        # c-dup: duplicate idx 1 with DIFFERENT ts/role — lag()-derived
        # rules must not depend on partition layout among the dups
        ("c-dup", 0, "system", "sys", None, ts(2026, 1, 1, 0, 0, 0)),
        ("c-dup", 1, "user", "hi", None, ts(2026, 1, 1, 0, 0, 1)),
        ("c-dup", 1, "assistant", "yo", None, ts(2026, 1, 1, 0, 0, 2)),
        ("c-dup", 2, "assistant", "ok", None, ts(2026, 1, 1, 0, 0, 3)),
        # c-null: two NULL indexes — the second IS a duplicate index
        # (eqNullSafe), the first is just the head of the conversation
        ("c-null", None, "user", "a", None, ts(2026, 1, 1, 1, 0, 0)),
        ("c-null", None, "assistant", "b", None, ts(2026, 1, 1, 1, 0, 1)),
        ("c-null", 0, "system", "c", None, ts(2026, 1, 1, 1, 0, 2)),
        # c-tie: fully identical pair — interchangeable for every rule
        ("c-tie", 0, "system", "s", None, ts(2026, 1, 2, 0, 0, 0)),
        ("c-tie", 1, "user", "same", None, ts(2026, 1, 2, 0, 0, 1)),
        ("c-tie", 1, "user", "same", None, ts(2026, 1, 2, 0, 0, 1)),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_sequence_rows_dirty_input_partition_invariant(spark):
    """On duplicate/NULL-index input the emitted violation rows (and
    hence the sink) must be invariant under partition layout: the
    within-conversation window orders by turn_idx, ts and role, not
    turn_idx alone, and rows tied on all three emit the same rows."""
    from cerberus_spark import pipeline

    dirty = _dirty_transcripts(spark)
    layouts = [
        dirty.coalesce(1),
        dirty.repartition(7),
        dirty.repartition(5, "text"),
    ]
    outs = [  # key=repr: NULL turn_idx is not <-comparable with ints
        sorted(map(tuple, pipeline.sequence_violation_rows(d).collect()), key=repr)
        for d in layouts
    ]
    assert outs[0] == outs[1] == outs[2]

    health = {
        r.conv: r
        for r in pipeline.conversation_health(dirty).collect()
    }
    # duplicate-index accounting incl. the NULL pair: c-dup's idx-1 pair
    # and c-tie's identical pair are one dup row each; c-null's second
    # NULL index is a duplicate (eqNullSafe) but its FIRST row is not
    assert health["c-dup"].n_dup_idx == 1
    assert health["c-tie"].n_dup_idx == 1
    assert health["c-null"].n_dup_idx == 1
    assert not health["c-null"].keep
    # and the sink rollup reproduces the direct gate on dirty input too
    rolled = {
        r.conv: tuple(r)
        for r in pipeline.conversation_health_from_violations(
            dirty, pipeline.sequence_violation_rows(dirty)
        ).collect()
    }
    assert rolled == {c: tuple(r) for c, r in health.items()}


def _dirty_keys(spark):
    """:func:`_dirty_transcripts` plus a NULL-conv_id conversation with
    a duplicated key: a window count over (conv_id, turn_idx) must
    group NULL keys exactly as the uniqueness ``groupBy`` does.  Its
    third turn (idx 2 after a gap, a user -> tool transition, ts back
    to the first turn's) breaks the density, grammar and ts rules.
    Last, a conversation whose duplicated key holds two rows that
    differ only in text, one of them empty."""
    ts = __import__("datetime").datetime
    extra = spark.createDataFrame(
        [
            (None, 0, "system", "n0", None, ts(2026, 1, 3, 0, 0, 0)),
            (None, 0, "user", "n1", "search", ts(2026, 1, 3, 0, 0, 1)),
            (None, 2, "tool", "n2", "search", ts(2026, 1, 3, 0, 0, 0)),
            # tied on (conv_id, turn_idx, ts, role), differing only in
            # text (one empty): the sink's window never sees text
            ("c-text", 0, "system", "s", None, ts(2026, 1, 4, 0, 0, 0)),
            ("c-text", 1, "user", "", None, ts(2026, 1, 4, 0, 0, 1)),
            ("c-text", 1, "user", "differs", None, ts(2026, 1, 4, 0, 0, 1)),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    return _dirty_transcripts(spark).unionByName(extra)


def _standalone_union(spark, df, sequence_checks):
    """The union of the standalone checks the one-pass sink replaces."""
    uniq = uniqueness_violations(df, KEY_COLS).select(
        *KEY_COLS,
        F.lit("(conv_id,turn_idx)").alias("field"),
        F.lit("unique").alias("rule"),
        F.col("n_dup").cast("string").alias("value"),
    )
    out = (
        validate(df, TRANSCRIPT_RULES, key_cols=KEY_COLS)
        .violations()
        .unionAll(uniq)
        .unionAll(referential_violations(df, "tool", tool_catalog(spark), "tool", KEY_COLS))
    )
    if sequence_checks:
        out = out.unionAll(sequence_violation_rows(df))
    return out


@pytest.mark.parametrize("sequence_checks", [True, False])
@pytest.mark.parametrize("data", ["generator", "dirty"])
def test_all_violations_equals_standalone_union(spark, transcripts, data, sequence_checks):
    """The one-pass sink equals, as a multiset, the union of the
    standalone rule, uniqueness, referential (and sequence) checks —
    on generator data and on dirty keys (duplicate and NULL turn_idx,
    a duplicated NULL conv_id)."""
    df = transcripts if data == "generator" else _dirty_keys(spark)
    got = Counter(map(tuple, all_violations(spark, df, sequence_checks=sequence_checks).collect()))
    want = Counter(map(tuple, _standalone_union(spark, df, sequence_checks).collect()))
    assert got == want and sum(want.values()) > 0
    n_unique = sum(n for r, n in want.items() if r[3] == "unique")
    assert n_unique > 0 and (data == "generator" or (None, 0, "(conv_id,turn_idx)", "unique", "2") in want)


def test_all_violations_dirty_input_partition_invariant(spark):
    """The one-pass sink is invariant under partition layout on dirty
    keys, rows tied on everything but text included: each row's own
    violations travel with it through the conv exchange, so the order
    among tied rows changes no sink row."""
    dirty = _dirty_keys(spark)
    outs = [
        Counter(map(tuple, all_violations(spark, d, sequence_checks=True).collect()))
        for d in (dirty.coalesce(1), dirty.repartition(7), dirty.repartition(5, "text"))
    ]
    assert outs[0] == outs[1] == outs[2]
    assert outs[0][("c-text", 1, "text", "empty", "")] == 1
    assert outs[0][("c-text", 1, "(conv_id,turn_idx)", "unique", "2")] == 1
    assert outs[0][("c-text", 1, "turn_idx", "seq_dup_idx", "1")] == 1


@pytest.mark.parametrize("sequence_checks", [True, False])
def test_rule_summary_equals_sink_groupby(spark, transcripts, tmp_path, sequence_checks):
    """The (field, rule) counts observed on the violations write equal
    a groupBy over the written sink, a field whose name holds a quote
    and a backslash included."""
    odd = "it's \\ odd"
    df = transcripts.withColumn(odd, F.when(F.col("turn_idx") == 0, F.lit("x")))
    rules = {**TRANSCRIPT_RULES, odd: {"type": "string", "required": True}}
    sink = str(tmp_path / "sink")
    got = run_full_validation(
        spark, df, sink_dir=sink, rules=rules, sequence_checks=sequence_checks
    )
    want = (
        spark.read.parquet(f"{sink}/violations")
        .groupBy("field", "rule")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .collect()
    )
    assert sorted(got["rule_summary"]) == sorted(want)
    assert any(r["field"] == odd and r["n_violations"] > 0 for r in want), want


def _drift_stats(rows):
    """drift rows as {(column_name, "kl" | "psi"): value}"""
    return {(r["column_name"], k): r[k] for r in rows for k in ("kl", "psi")}


def test_run_full_validation_drift_equals_drift_reports(spark, transcripts, tmp_path):
    """The drift ``run_full_validation`` returns, its self-baseline
    split observed on the partition summary's scan, equals
    :func:`drift_reports` on the same input, with and without an
    explicit baseline."""
    base, cur = _median_split(transcripts)
    for df, baseline in ((transcripts, None), (cur, base)):
        got = run_full_validation(spark, df, sink_dir=str(tmp_path / "sink"), baseline=baseline)
        want = _drift_stats(drift_reports(df, baseline).collect())
        assert {c for c, _ in want} == {"role", "text_len", "tool"}
        assert _drift_stats(got["drift"]) == pytest.approx(want, abs=1e-12)


def test_drift_reports_null_ts_on_neither_side(spark):
    """A row with a NULL ts is neither older nor newer than the median
    split, so it is on neither side of the self-drift: adding such rows
    leaves every statistic unchanged."""
    ts = __import__("datetime").datetime
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    rows = [
        ("c", 0, "system", "hello", None, ts(2026, 1, 1, 0, 0, 0)),
        ("c", 1, "user", "what is the weather today", None, ts(2026, 1, 1, 0, 0, 1)),
        ("c", 2, "assistant", "let me look it up", None, ts(2026, 1, 1, 0, 0, 2)),
        ("c", 3, "tool", "sunny", "search", ts(2026, 1, 1, 0, 0, 3)),
    ]
    nulls = [("n", i, "tool", "x", "search", None) for i in range(3)]
    clean = spark.createDataFrame(rows, schema)
    with_nulls = clean.unionByName(spark.createDataFrame(nulls, schema))
    want = _drift_stats(drift_reports(clean).collect())
    assert want[("tool", "kl")] is not None
    assert _drift_stats(drift_reports(with_nulls).collect()) == pytest.approx(want, abs=1e-12)


def test_run_full_validation_job_budget(spark, transcripts, tmp_path, count_jobs):
    """A warm ``run_full_validation`` launches at most 10 Spark jobs
    with the sequence checks and 6 without: no catalog broadcast, no
    rule-summary or drift-split job, no schema inference on the sink
    read-back."""
    for sequence_checks, budget in ((True, 10), (False, 6)):
        run_full_validation(spark, transcripts, sink_dir=str(tmp_path / "warm"),
                            sequence_checks=sequence_checks)
        with count_jobs() as jobs:
            run_full_validation(spark, transcripts, sink_dir=str(tmp_path / "run"),
                                sequence_checks=sequence_checks)
        assert jobs.n <= budget, (sequence_checks, jobs.n)


@pytest.mark.parametrize("sequence_checks", [True, False])
def test_run_full_validation_returns_column_stats(spark, transcripts, tmp_path, sequence_checks):
    """The column stats observed on the partition summary's scan equal
    the standalone :func:`transcript_stats` job's rows, in both sink
    shapes; every returned output round-trips through its
    ``SUMMARY_SCHEMAS`` table."""
    from cerberus_spark.pipeline import SUMMARY_SCHEMAS
    from cerberus_spark.sources.tables import local_table

    got = run_full_validation(
        spark, transcripts, sink_dir=str(tmp_path / "sink"), sequence_checks=sequence_checks
    )
    assert got["column_stats"] == transcript_stats(transcripts).collect()
    assert set(got) == set(SUMMARY_SCHEMAS)
    for name, ddl in SUMMARY_SCHEMAS.items():
        assert local_table(spark, got[name], ddl).collect() == got[name], name


def test_conversation_health_null_conv(spark, tmp_path):
    """A NULL conv_id is one conversation: the direct gate, the rollup
    from the sink and ``run_full_validation``'s conversation_health all
    count its violations (null-safe joins), and agree on every conv."""
    from cerberus_spark import pipeline

    dirty = _dirty_keys(spark)
    want = (None, 3, 1, 1, 0, 1, 0, 1, 0, False)
    direct = {r.conv: tuple(r) for r in pipeline.conversation_health(dirty).collect()}
    assert direct[None] == want
    viol = all_violations(spark, dirty, sequence_checks=True)
    rolled = {
        r.conv: tuple(r)
        for r in pipeline.conversation_health_from_violations(dirty, viol).collect()
    }
    sink = str(tmp_path / "sink")
    run_full_validation(spark, dirty, sink_dir=sink, sequence_checks=True)
    sunk = {r.conv: tuple(r) for r in spark.read.parquet(f"{sink}/conversation_health").collect()}
    assert rolled == direct == sunk
