"""The headline job: full rule-set + distributed checks + drift over a
transcript table — few, fat Catalyst plans, not many thin ones.

This is the north-rule workload — the batch analog of the reference's
entire event loop (classify -> enrich -> aggregate -> dedup -> report,
cmd/cerberus/main.go:153-211 + internal/monitor/monitor.go:197-408).
The reference runs each event through that loop once and reports from
it; :func:`run_full_validation` is the one orchestration here (bench,
``perfbench``, ``jobs/validate_job.py`` and the tests all call it) and
reads the table in three steps, the first two side by side:

  1. violations sink   — :func:`all_violations`: rule violations ∪
                         uniqueness dups ∪ referential orphans (∪ the
                         sequence family with ``sequence_checks``) as
                         one normalized parquet sink (conv_id,
                         turn_idx, field, rule, value); with
                         ``sequence_checks`` from ONE scan and ONE
                         conv-keyed exchange that carries only the keys,
                         role, ts and each row's already-evaluated rule
                         violations, without them one scan plus a
                         key-only uniqueness groupBy.  The (field, rule)
                         counts are an ``Observation`` on this write.
  2. summaries         — pass/fail per (partition, input file) over the
                         plain ``_passed`` boolean (monitor.go:514-584
                         analog), with the column stats and the
                         self-drift median ``ts`` observed on its scan;
                         then drift (role / tool / text-length KL+PSI vs
                         baseline) with that split as a literal, binned
                         in one grouping-sets scan
  3. health rollup     — with ``sequence_checks``, after the sink: the
                         per-conversation ``conversation_health`` gate
                         (parquet, next to the violations), read back
                         FROM the sink (one extra per-conv row count)

Row-sized outputs go to the sink; summary-sized ones come back to the
driver as rows.  Measured with ``perfbench/run.py --workload
validate_turns --trace 1`` (149k turns, ``sequence_checks=True``,
local[4] on a 4-core VM): 10 Spark jobs and 4.0 input scans per run
(sink 1, partition summary 1, drift 1, health 1).  On the cached
700-conv test input at local[8]: 6 jobs, 10 with ``sequence_checks``;
the CLI adds at most 4 (one write per summary table).  Shapes: rules
are scan + codegen'd predicates, referential is one more of them (the
catalog is a literal allowed set: no join, no broadcast), uniqueness
shares the sequence rules' one window sort (without ``sequence_checks``
it is a key-only groupBy instead), drift shuffles histogram-sized data,
and nothing collects more than summary rows to the driver.

Every stage is planned from Spark SQL text (``selectExpr``/``where``
over the rule compiler's strings), one parse on the JVM per stage.
Built from ``Column`` operators, each paying PySpark's call-site
capture, the sink's plan (rule compile included) took 3,236 py4j
commands and 0.25-0.27 s of driver time and the health rollup's 918
and ~0.1 s; from text they take 37 and 79 commands, 0.06 s and 0.05 s
(warm, seed-301 ``validate_turns`` input, 4-core VM).  Most of what is
left is the JVM analysing each stage.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import replace
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from cerberus_spark.checks.sequence import (
    assemble_conversation_report,
    conversation_report,
    rule_counts,
    sequence_rules,
    sequence_window,
)
from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.rules import (
    VIOLATION_ARRAY,
    CompiledRule,
    CompiledRuleSet,
    compile_schema,
    sql_in,
    sql_literal,
)
from cerberus_spark.sources.catalog import TOOLS
from cerberus_spark.sources.tables import local_table
from cerberus_spark.validation import PASSED_COL, partition_summary

#: north-rule transcript rule set (Cerberus-style rule dicts)
TRANSCRIPT_RULES: dict[str, dict[str, Any]] = {
    "conv_id": {"type": "string", "required": True, "regex": "conv-[0-9]{8}"},
    "turn_idx": {"type": "integer", "required": True, "min": 0, "max": 100000},
    "role": {
        "type": "string",
        "required": True,
        "allowed": ["system", "user", "assistant", "tool"],
    },
    "text": {"type": "string", "required": True, "empty": False, "maxlength": 20000},
    "tool": {"type": "string", "nullable": True, "dependencies": {"role": "tool"}},
    "ts": {"type": "timestamp", "required": True},
}

#: frozen text-length bin edges for drift (never re-derived per run)
TEXT_LEN_EDGES = [0.0, 20.0, 50.0, 100.0, 150.0, 200.0, 300.0, 1e9]

KEY_COLS = ["conv_id", "turn_idx"]

#: within-conversation sort for the sequence window: turn_idx first
#: (the density rules require it non-decreasing), then ts/role/text as
#: tiebreaks.  turn_idx alone is NOT a total order on exactly the
#: dirty input this validator exists for (duplicate indexes), and
#: lag(role)/lag(ts) among the duplicates would then be partition- and
#: run-dependent — the sink rows and health counts must be invariant
#: under partition layout (pytest-locked repo contract).  Rows equal
#: in all four columns are interchangeable for every lag-derived rule,
#: so the emitted violations stay deterministic regardless.
TRANSCRIPT_ORDER = ["turn_idx", "ts", "role", "text"]

#: the violations sink's window order: :data:`TRANSCRIPT_ORDER` without
#: ``text``, so only the key, role and ts columns cross its exchange.
#: Every sequence and uniqueness rule reads only those columns, so rows
#: tied on them emit the same (conv_id, turn_idx, field, rule, value)
#: rows in either order; each row's own rule violations travel with it
#: and do not depend on its position.
_SINK_ORDER = ["turn_idx", "ts", "role"]

#: north-rule role-transition grammar for multi-turn agent transcripts
TRANSCRIPT_TRANSITIONS: set[tuple[str, str]] = {
    ("system", "user"),
    ("system", "assistant"),
    ("user", "assistant"),
    ("user", "user"),
    ("assistant", "user"),
    ("assistant", "assistant"),
    ("assistant", "tool"),
    ("tool", "assistant"),
    ("tool", "tool"),
}
TRANSCRIPT_FIRST_ROLES: set[str] = {"system", "user"}


def _sequence_checks(df: DataFrame) -> tuple[DataFrame, list[CompiledRule]]:
    """``df`` with the transcript conv window attached, and the sequence
    rules over it (grammar, ordering, null state and index density)
    renamed ``seq_<rule>`` for the violations sink."""
    windowed = sequence_window(df, "conv_id", "role", "ts", _SINK_ORDER, "turn_idx")
    rules = sequence_rules(
        "role", "ts", TRANSCRIPT_TRANSITIONS, TRANSCRIPT_FIRST_ROLES, "turn_idx"
    )
    return windowed, [replace(r, rule=f"seq_{r.rule}") for r in rules]


def _violation_rows(df: DataFrame, rules: list[CompiledRule]) -> DataFrame:
    """One sink row (conv_id, turn_idx, field, rule, value) per (row,
    violated rule).  Every row pays only the OR'd plain boolean; the
    struct array is built for the failing rows alone."""
    checks = CompiledRuleSet(rules)
    return df.where(checks.any_violated()).selectExpr(*KEY_COLS, f"inline({checks.violation_array()})")


def sequence_violation_rows(df: DataFrame) -> DataFrame:
    """The sequence family alone (:func:`sequence_rules` over the
    transcript grammar, index density included) in the violations-sink
    shape: the rows :func:`all_violations` adds with
    ``sequence_checks=True``.  One window shuffle keyed by
    conversation."""
    return _violation_rows(*_sequence_checks(df))


def conversation_health(df: DataFrame) -> DataFrame:
    """Per-conversation structural gate (the transcript Gopher gate)
    over the same grammar: one row per conversation with violation
    counts and the composite ``keep`` flag."""
    return conversation_report(
        df,
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        TRANSCRIPT_ORDER,
        TRANSCRIPT_TRANSITIONS,
        TRANSCRIPT_FIRST_ROLES,
    )


def conversation_health_from_violations(df: DataFrame, viol: DataFrame) -> DataFrame:
    """:func:`conversation_health` rolled up from an already-
    materialized violations sink instead of a second window pass: the
    per-conv sequence AND density counts come from the sink's ``seq_*``
    rows (ONE groupBy over violation rows — the density rules rode the
    sink's window pass via ``idx_col`` — consumed by exactly one join,
    so the sink is scanned once); the only corpus re-read is a plain
    per-conv row count (map-side partial agg, no window sort).
    Output equal to :func:`conversation_health` by construction
    (shared assembly; equality pytest-locked)."""
    density = (
        viol.where("startswith(rule, 'seq_')")
        .groupBy(F.expr("conv_id AS conv"))
        .agg(
            F.expr(
                "coalesce(sum(CASE WHEN rule = 'seq_idx_gap' THEN CAST(value AS BIGINT) END), 0L)"
                " AS n_missing"
            ),
            *rule_counts(
                ("dup_idx", "below_start", "transition", "null_state", "ts_regression", "first_state"),
                "seq_",
            ),
        )
    )
    turns = df.groupBy(F.expr("conv_id AS conv")).agg(F.expr("count(1) AS n_turns"))
    return assemble_conversation_report(turns, density)


def materialize(df: DataFrame) -> None:
    """Force full evaluation without driver transfer.

    The noop sink materializes every column and row (unlike ``count()``,
    which lets Catalyst prune compute-heavy projections away).
    """
    df.write.format("noop").mode("overwrite").save()


def _uniqueness_rows(df: DataFrame) -> DataFrame:
    """Duplicated (conv_id, turn_idx) keys in the violations-sink shape,
    one row per key with its count: :func:`uniqueness_violations`, a
    key-only ``groupBy`` (map-side partial counts, then an exchange of
    key tuples alone)."""
    return uniqueness_violations(df, KEY_COLS).selectExpr(
        *KEY_COLS,
        "'(conv_id,turn_idx)' AS field",
        "'unique' AS rule",
        "CAST(n_dup AS STRING) AS value",
    )


def all_violations(
    spark: SparkSession,
    df: DataFrame,
    rules: dict | None = None,
    sequence_checks: bool = False,
) -> DataFrame:
    """Rule + uniqueness + referential (+ optionally sequence)
    violations in ONE normalized DataFrame (conv_id, turn_idx, field,
    rule, value) — the single violations sink the audit table ingests.

    The row checks share one scan.  The tool catalog is a literal
    allowed set (``tool IN (...)``), so a referential orphan is one more
    row-local predicate: no join and no broadcast.

    Uniqueness depends on whether a conversation window runs:

    - ``sequence_checks``: every row-local rule is evaluated map-side,
      and each row crosses the one conv-keyed exchange as its keys,
      role, ts and ``_row_v`` (the array of its violation structs, NULL
      on a passing row), never its text.  A ``count(1)`` over
      (conv_id, turn_idx) reuses that exchange and the conv window's
      sort, and one row per duplicated key reports it (NULL keys group
      alike, as in ``groupBy``).  One scan, one exchange.
    - otherwise nothing shuffles the rows, so uniqueness stays the
      key-only :func:`_uniqueness_rows` over a second, key-pruned scan:
      cheaper than hash-shuffling and sorting every row just to count
      keys.

    Rows equal, as a multiset, the union of the standalone checks
    (pytest-locked on clean and dirty input)."""
    ruleset = compile_schema(rules or TRANSCRIPT_RULES, df.schema)
    return _all_violations(df, ruleset, sequence_checks)[0]


def _all_violations(
    df: DataFrame, ruleset: CompiledRuleSet, sequence_checks: bool
) -> tuple[DataFrame, list[tuple[str, str]]]:
    """:func:`all_violations` over an already compiled rule set, and
    every (field, rule) pair its rows can carry."""
    orphan = f"(tool IS NOT NULL AND NOT {sql_in('tool', [name for name, _, _ in TOOLS])})"
    row_checks = CompiledRuleSet(ruleset.rules + [CompiledRule("tool", "referential", orphan, "tool")])
    unique_pair = ("(conv_id,turn_idx)", "unique")
    pairs = [(r.field, r.rule) for r in row_checks.rules]
    if not sequence_checks:
        rows = _violation_rows(df, row_checks.rules).unionAll(_uniqueness_rows(df))
        return rows, pairs + [unique_pair]
    narrow = df.selectExpr(
        *KEY_COLS,
        "role",
        "ts",
        f"CASE WHEN {row_checks.any_violated()} THEN {row_checks.violation_array()} END AS _row_v",
    )
    windowed, seq = _sequence_checks(narrow)
    # which row of a duplicated key reports it does not matter (the
    # sink row is the key and its count); ordering by ts keeps the
    # required sort a prefix of the conv window's, so no second Sort
    windowed = windowed.selectExpr(
        "*",
        "count(1) OVER (PARTITION BY conv_id, turn_idx) AS _key_n",
        "row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY ts) AS _key_rn",
    )
    unique = CompiledRule(*unique_pair, "(_key_n > 1 AND _key_rn = 1)", "_key_n")
    window_checks = CompiledRuleSet(seq + [unique])
    rows = windowed.where(f"_row_v IS NOT NULL OR {window_checks.any_violated()}").selectExpr(
        *KEY_COLS,
        f"inline(concat(coalesce(_row_v, CAST(array() AS {VIOLATION_ARRAY})), "
        f"{window_checks.violation_array()}))",
    )
    return rows, pairs + [(r.field, r.rule) for r in window_checks.rules]


#: the self-baseline drift split: the approximate median ``ts``
_MEDIAN_TS = "percentile_approx(ts, 0.5D, 10000) AS _split"


def drift_reports(df: DataFrame, baseline: DataFrame | None = None) -> DataFrame:
    """role, tool and text-length KL/PSI drift: (column_name, kl, psi).

    One path for both baselines; they differ only in how rows are
    tagged ``is_cur``:

    - without ``baseline``: self-drift around the median ``ts``
      (collected first); a row with a NULL ``ts`` is on neither side;
    - with ``baseline``: the snapshot's rows are ``False``, ``df``'s
      ``True``, unioned by name.

    Every histogram then comes out of ONE GROUPING SETS aggregation and
    the KL/PSI math runs driver-side on the collected histogram-sized
    rows (SURVEY.md §4: drift is deterministic binning + small math,
    never a second pass over the data).  The result equals
    :func:`drift_report` over the same two sides; an empty side gives
    NULL kl/psi.
    """
    split = df.agg(F.expr(_MEDIAN_TS)).collect()[0]["_split"] if baseline is None else None
    return _drift(df, baseline, split)


def _drift(df: DataFrame, baseline: DataFrame | None, split: Any) -> DataFrame:
    """:func:`drift_reports` with the self-baseline's median ``split``
    already known (ignored when ``baseline`` is given)."""
    import math

    from cerberus_spark.checks.drift import EPS, numeric_bin_expr

    bins = [
        "coalesce(role, '__null__') AS role_bin",
        "coalesce(tool, '__null__') AS tool_bin",
        f"{numeric_bin_expr('length(text)', TEXT_LEN_EDGES)} AS len_bin",
    ]
    if baseline is None:
        is_cur = f"(ts >= {sql_literal(split)})"
        tagged = df.where(f"{is_cur} IS NOT NULL").selectExpr(f"{is_cur} AS is_cur", *bins)
    else:
        tagged = baseline.selectExpr("FALSE AS is_cur", *bins).unionByName(
            df.selectExpr("TRUE AS is_cur", *bins)
        )
    gs = tagged.groupingSets(
        [["is_cur", "role_bin"], ["is_cur", "len_bin"], ["is_cur", "tool_bin"]],
        "is_cur",
        "role_bin",
        "len_bin",
        "tool_bin",
    ).agg(F.expr("count(1) AS n"), F.expr("grouping_id() AS gid"))
    # grouping_id bits follow groupBy order (is_cur, role_bin, len_bin,
    # tool_bin), MSB first; a set's missing columns are 1-bits:
    #   {is_cur, role_bin} -> 0b0011 = 3
    #   {is_cur, len_bin}  -> 0b0101 = 5
    #   {is_cur, tool_bin} -> 0b0110 = 6
    hists: dict[str, dict] = {"role": {}, "text_len": {}, "tool": {}}
    for r in gs.collect():
        if r["gid"] == 3:
            key, name = r["role_bin"], "role"
        elif r["gid"] == 6:
            key, name = r["tool_bin"], "tool"
        elif r["gid"] == 5 and r["len_bin"] is not None:  # drop NULL text rows
            key, name = r["len_bin"], "text_len"
        else:
            continue
        b, c = hists[name].get(key, (0, 0))
        if r["is_cur"]:
            hists[name][key] = (b, c + r["n"])
        else:
            hists[name][key] = (b + r["n"], c)

    def kl_psi(pairs: dict) -> tuple[float | None, float | None]:
        bt = sum(b for b, _ in pairs.values())
        ct = sum(c for _, c in pairs.values())
        if not bt or not ct:
            return None, None
        kl = psi = 0.0
        for b, c in pairs.values():
            p = c / ct + EPS
            q = b / bt + EPS
            lr = math.log(p / q)
            kl += p * lr
            psi += (p - q) * lr
        return kl, psi

    rows = [(name, *kl_psi(pairs)) for name, pairs in hists.items()]
    return local_table(df.sparkSession, rows, "column_name string, kl double, psi double")


#: columns profiled by :func:`transcript_stats`
STATS_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


#: the fields of a :func:`transcript_stats` row after ``column_name``,
#: each the alias of its :func:`_stats_aggs` aggregate (``{c}`` is the
#: profiled column).  The Spark unpivot and the observed rows of
#: :func:`run_full_validation` both read this one mapping.
_STATS_FIELDS = {
    "null_rate": "__null_rate_{c}",
    "approx_distinct": "__nd_{c}",
    "text_len_q50_q95_q99": "__tl_q",
}


def _stats_aggs() -> list[Column]:
    """The one aggregate list behind the column stats: null rate and
    HLL distinct per column, text-length quantile sketch."""
    aggs = []
    for c in STATS_COLS:
        aggs.append(f"try_divide(count_if({c} IS NULL), count(1)) AS __null_rate_{c}")
        aggs.append(f"approx_count_distinct({c}) AS __nd_{c}")
    aggs.append("percentile_approx(length(text), array(0.5D, 0.95D, 0.99D), 2000) AS __tl_q")
    return [F.expr(a) for a in aggs]


def transcript_stats(df: DataFrame) -> DataFrame:
    """Per-column stats in ONE aggregation job (north_star: null rate,
    cardinality sketches, quantiles): null rate + HLL distinct per
    column, plus text-length percentile sketch — all partial-aggregated
    map-side, unpivoted with a struct explode (no extra scan per
    column)."""
    structs = ", ".join(
        f"named_struct('column_name', '{c}', "
        + ", ".join(f"'{k}', {a.format(c=c)}" for k, a in _STATS_FIELDS.items())
        + ")"
        for c in STATS_COLS
    )
    return df.agg(*_stats_aggs()).selectExpr(f"inline(array({structs}))")


def _stats_rows(wide: dict[str, Any]) -> list[Row]:
    """:func:`transcript_stats`'s rows from its aggregates, as an
    ``Observation`` returns them."""
    return [
        Row(column_name=c, **{k: wide[a.format(c=c)] for k, a in _STATS_FIELDS.items()})
        for c in STATS_COLS
    ]


def _passed_summary(df: DataFrame, ruleset: CompiledRuleSet) -> DataFrame:
    """:meth:`ValidationResult.partition_summary` of ``validate(df)``,
    from the plain ``_passed`` boolean alone: the summary never reads
    the violation-struct array, so it is not built."""
    return partition_summary(df.withColumn(PASSED_COL, F.expr(f"NOT {ruleset.any_violated()}")))


def _observed(obs: Observation) -> dict[str, Any] | None:
    """The metrics of ``obs``, or None when no plan node reported them:
    the optimizer (for an input it proves empty) and adaptive execution
    (for a stage that ran empty) replace the plan with an empty
    relation, observed node included."""
    return obs.get if obs._jo.getRow().size() else None


#: the summary-sized outputs :func:`run_full_validation` returns as
#: driver rows, each with its schema (DDL) for writing them back out
SUMMARY_SCHEMAS = {
    "column_stats": "column_name string, null_rate double, approx_distinct long, "
    "text_len_q50_q95_q99 array<int>",
    "rule_summary": "field string, rule string, n_violations long",
    "partition_summary": "partition_id int, file string, rows long, n_pass long, n_fail long",
    "drift": "column_name string, kl double, psi double",
}


def run_full_validation(
    spark: SparkSession,
    df: DataFrame,
    sink_dir: str,
    baseline: DataFrame | None = None,
    rules: dict | None = None,
    sequence_checks: bool = False,
) -> dict[str, list[Row]]:
    """Run every check (the benched unit of work and the CLI's one
    call), submitted from a small driver-side thread pool.

    Row-sized outputs land as parquet under ``sink_dir``:
    ``violations`` and, with ``sequence_checks``, the per-conversation
    ``conversation_health`` gate.  Summary-sized outputs come back as
    driver rows, keyed as in :data:`SUMMARY_SCHEMAS`: ``column_stats``
    (the rows of :func:`transcript_stats`), ``rule_summary`` (the
    (field, rule) counts), ``partition_summary`` (pass/fail per
    partition and input file) and ``drift`` (KL/PSI per column).
    ``baseline`` defaults to the older half of ``df`` by median
    timestamp; ``rules`` overrides :data:`TRANSCRIPT_RULES`.

    Two tasks run side by side, so each one's driver-side planning and
    scheduling hides behind the other's execution; concurrent actions
    from threads are a supported Spark pattern (one scheduler, shared
    executors):

    - the sink, the longer chain, planned before either task starts:
      write the violations, then (with ``sequence_checks``) roll the
      conversation health gate up FROM the written sink, so the rule
      cascade and the sequence window each run once;
    - the summaries, planned in their task while the sink runs: the
      partition summary, then drift.

    Three summaries ride scans the run already makes, as
    ``Observation`` aggregates, and take no job of their own:

    - the column stats and the self-drift median ``ts`` observe the
      partition summary's scan (one scan of every row in both sink
      shapes; the sink without ``sequence_checks`` scans twice, and an
      observation there would ride and widen its key-pruned uniqueness
      scan too), so drift then runs with a literal split;
    - the (field, rule) counts observe the violations write, one
      ``count_if`` per compiled pair.
    """
    from concurrent.futures import ThreadPoolExecutor

    ruleset = compile_schema(rules or TRANSCRIPT_RULES, df.schema)
    violations, pairs = _all_violations(df, ruleset, sequence_checks)
    counts = Observation()
    # one parsed array of the per-pair counts, in ``pairs`` order
    per_pair = ", ".join(
        f"count_if(field = {sql_literal(f)} AND rule = {sql_literal(r)})" for f, r in pairs
    )
    observed_violations = violations.observe(counts, F.expr(f"array({per_pair}) AS n"))
    out: dict[str, list[Row]] = {}

    def sink_task() -> None:
        observed_violations.write.mode("overwrite").parquet(f"{sink_dir}/violations")
        n = (_observed(counts) or {"n": []})["n"]
        out["rule_summary"] = [
            Row(field=f, rule=r, n_violations=k) for (f, r), k in zip(pairs, n) if k
        ]
        if sequence_checks:
            # the written schema is known: no schema-inference job
            sunk = spark.read.schema(violations.schema).parquet(f"{sink_dir}/violations")
            conversation_health_from_violations(df, sunk).write.mode("overwrite").parquet(
                f"{sink_dir}/conversation_health"
            )

    def summaries_task() -> None:
        stats = Observation()
        observed = _stats_aggs() + ([F.expr(_MEDIAN_TS)] if baseline is None else [])
        out["partition_summary"] = _passed_summary(df.observe(stats, *observed), ruleset).collect()
        # no row reached the observation: a count of no rows is 0,
        # every other aggregate NULL
        wide = _observed(stats) or defaultdict(
            lambda: None, {f"__nd_{c}": 0 for c in STATS_COLS}
        )
        out["column_stats"] = _stats_rows(wide)
        out["drift"] = _drift(df, baseline, wide["_split"] if baseline is None else None).collect()

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(sink_task), pool.submit(summaries_task)]
        for f in futures:
            f.result()  # propagate the first failure
    return out
