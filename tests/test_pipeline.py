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
    full_validation,
    run_full_validation,
    sequence_violation_rows,
    transcript_stats,
)
from cerberus_spark.rules import python_validate
from cerberus_spark.sources.catalog import TOOLS, tool_catalog
from cerberus_spark.validation import validate
from cerberus_spark.sources.transcripts import generate_transcripts, py_rows

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


def test_partition_summary_covers_all_rows(spark, transcripts):
    """The pipeline's partition summary, built from ``_passed`` alone,
    equals ``validate``'s."""
    outs = full_validation(spark, transcripts)
    ps = outs["partition_summary"].agg(F.sum("rows").alias("n")).collect()[0]
    assert ps["n"] == transcripts.count()
    want = validate(transcripts, TRANSCRIPT_RULES, key_cols=KEY_COLS).partition_summary()
    assert sorted(outs["partition_summary"].collect()) == sorted(want.collect())


def test_validate_job_end_to_end_with_resume(spark, transcripts, tmp_path):
    """Drive jobs/validate_job.py main() twice: first run validates and
    records the audit; second run anti-joins everything out."""
    import sys

    sys.path.insert(0, "/root/repo")
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
    """--sequence-checks lands grammar/order violations in
    <sink>/sequence and index-density violations in <sink>/contiguity;
    the duplicated turn-1 rows injected by the generator must surface
    as contiguity dups."""
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.validate_job import main

    inp = str(tmp_path / "input")
    transcripts.write.mode("overwrite").parquet(inp)
    sink = str(tmp_path / "sink")

    rc = main(["--input", inp, "--sink", sink, "--sequence-checks"])
    assert rc == 0
    seq = spark.read.parquet(f"{sink}/sequence")
    # generator critic roles are outside the in-domain transition set
    assert seq.filter(F.col("rule") == "transition").count() > 0
    cont = spark.read.parquet(f"{sink}/contiguity")
    assert cont.filter(F.col("n_dup_idx") > 0).count() > 0


def test_singlepass_drift_matches_two_sided(spark, transcripts):
    """The grouping-sets single-scan drift must equal the lazy
    two-histogram drift_report path on the same median split."""
    from pyspark.sql import functions as F

    split = transcripts.agg(
        F.percentile_approx("ts", F.lit(0.5), F.lit(10000)).alias("m")
    ).collect()[0]["m"]
    base = transcripts.filter(F.col("ts") < F.lit(split))
    cur = transcripts.filter(F.col("ts") >= F.lit(split))
    two_sided = {
        r["column_name"]: (r["kl"], r["psi"])
        for r in drift_reports(cur, baseline=base).collect()
    }
    single = {
        r["column_name"]: (r["kl"], r["psi"])
        for r in drift_reports(transcripts).collect()
    }
    assert set(single) == {"role", "text_len", "tool"} == set(two_sided)
    for name in single:
        for a, b in zip(single[name], two_sided[name]):
            assert abs(a - b) < 1e-9, (name, single[name], two_sided[name])


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
    import sys

    sys.path.insert(0, "/root/repo")
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
    import sys

    sys.path.insert(0, "/root/repo")
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


def test_pipeline_sequence_checks_flag(spark, transcripts):
    """sequence_checks=True unions the sequence family into the
    violations sink (rules prefixed 'seq_') and adds the
    conversation_health output; counts equal the standalone
    (oracle-gated) operators' — composition, not new math.  Flag off:
    neither appears, so pre-r5 consumers see the unchanged shape."""
    from cerberus_spark import pipeline

    outs = pipeline.full_validation(spark, transcripts, sequence_checks=True)
    seq_rows = outs["all_violations"].filter(F.col("rule").startswith("seq_"))
    standalone = pipeline.sequence_violation_rows(transcripts)
    n_seq = standalone.count()
    assert n_seq > 0  # generator's 'critic' roles break the grammar
    assert seq_rows.count() == n_seq
    assert set(seq_rows.columns) == {"conv_id", "turn_idx", "field", "rule", "value"}

    health = outs["conversation_health"]
    assert {"conv", "n_turns", "n_transition", "keep"} <= set(health.columns)
    assert health.count() == transcripts.select("conv_id").distinct().count()
    assert health.filter(~F.col("keep")).count() > 0

    outs0 = pipeline.full_validation(spark, transcripts)
    assert "conversation_health" not in outs0
    assert (
        outs0["all_violations"].filter(F.col("rule").startswith("seq_")).count() == 0
    )
    # the benched unit (thread-pooled) runs green with the flag on
    pipeline.run_full_validation(spark, transcripts, sequence_checks=True)


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
    within-conversation window orders by the full TRANSCRIPT_ORDER
    tiebreak, not turn_idx alone."""
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
    """:func:`_dirty_transcripts` plus a duplicated key whose conv_id is
    NULL: a window count over (conv_id, turn_idx) must group NULL keys
    exactly as the uniqueness ``groupBy`` does."""
    ts = __import__("datetime").datetime
    extra = spark.createDataFrame(
        [
            (None, 0, "system", "n0", None, ts(2026, 1, 3, 0, 0, 0)),
            (None, 0, "user", "n1", "search", ts(2026, 1, 3, 0, 0, 1)),
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


@pytest.mark.parametrize("sequence_checks", [True, False])
def test_run_full_validation_returns_column_stats(spark, transcripts, tmp_path, sequence_checks):
    """The column stats observed on the partition summary's scan equal
    the standalone :func:`transcript_stats` job's rows, in both sink
    shapes."""
    got = run_full_validation(
        spark, transcripts, sink_dir=str(tmp_path / "sink"), sequence_checks=sequence_checks
    )
    assert got == transcript_stats(transcripts).collect()
