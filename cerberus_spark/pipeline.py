"""The headline job: full rule-set + distributed checks + drift over a
transcript table — few, fat Catalyst plans, not many thin ones.

This is the north-rule workload — the batch analog of the reference's
entire event loop (classify -> enrich -> aggregate -> dedup -> report,
cmd/cerberus/main.go:153-211 + internal/monitor/monitor.go:197-408).
The reference runs each event through that loop once;
:func:`run_full_validation` reads the table in four independent tasks:

  1. violations sink   — :func:`all_violations`: rule violations ∪
                         uniqueness dups ∪ referential orphans (∪ the
                         sequence family with ``sequence_checks``) as
                         one normalized sink (conv_id, turn_idx, field,
                         rule, value); with ``sequence_checks`` from
                         ONE scan and ONE conv-keyed exchange, without
                         them one scan plus a key-only uniqueness
                         groupBy
  2. partition summary — per-partition pass/fail + input files over the
                         plain ``_passed`` boolean (monitor.go:514-584
                         analog); the column stats ride its scan as an
                         ``Observation``
  3. drift             — role / tool / text-length KL+PSI vs baseline;
                         the self-baseline splits on the median ts
                         in-plan and bins everything in one
                         grouping-sets scan
  4. rollups           — (field, rule) counts and, with
                         ``sequence_checks``, the per-conversation
                         ``conversation_health`` gate, both read back
                         FROM the sink (one extra per-conv row count)

Measured with ``perfbench/run.py --workload validate_turns --trace 1``
(149k turns, ``sequence_checks=True``, local[4] on a 4-core VM): 18
Spark jobs and 5.0 input scans per run (sink 1, partition summary 1,
drift 2, health 1).  The tasks go to a driver-side thread pool so each
action's planning and scheduling overlaps the others' execution.
Shapes: rules are scan + codegen'd predicates, referential is a
broadcast join (map-side), uniqueness shares the sequence rules' one
window sort (without ``sequence_checks`` it is a key-only groupBy
instead), drift shuffles histogram-sized data, and nothing collects
more than summary rows to the driver.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession, Window
from pyspark.sql import functions as F

from cerberus_spark.checks.drift import categorical_histogram, drift_report, numeric_histogram
from cerberus_spark.checks.referential import referential_flag
from cerberus_spark.checks.sequence import conversation_report, sequence_rules, sequence_window
from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.rules import CompiledRule, CompiledRuleSet, compile_schema
from cerberus_spark.sources.catalog import tool_catalog
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
    windowed = sequence_window(df, "conv_id", "role", "ts", TRANSCRIPT_ORDER, "turn_idx")
    rules = sequence_rules(
        "role", "ts", TRANSCRIPT_TRANSITIONS, TRANSCRIPT_FIRST_ROLES, "turn_idx"
    )
    return windowed, [replace(r, rule=f"seq_{r.rule}") for r in rules]


def _violation_rows(df: DataFrame, rules: list[CompiledRule]) -> DataFrame:
    """One sink row per (row, violated rule): (conv_id, turn_idx, field,
    rule, value).  Every row pays only the OR'd plain boolean; the
    struct array is built for the failing rows alone."""
    checks = CompiledRuleSet(rules)
    v = F.explode(F.array_compact(F.array(*checks.violation_structs()))).alias("v")
    return (
        df.filter(checks.any_violated())
        .select(*KEY_COLS, v)
        .select(*KEY_COLS, "v.field", "v.rule", "v.value")
    )


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
    from cerberus_spark.checks.sequence import finalize_conversation_report

    density = (
        viol.filter(F.col("rule").startswith("seq_"))
        .groupBy(F.col("conv_id").alias("conv"))
        .agg(
            F.sum(F.when(F.col("rule") == "seq_dup_idx", 1).otherwise(0))
            .cast("long")
            .alias("n_dup_idx"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("rule") == "seq_idx_gap", F.col("value").cast("long")
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_missing"),
            F.sum(F.when(F.col("rule") == "seq_below_start", 1).otherwise(0))
            .cast("long")
            .alias("n_below_start"),
            *[
                F.sum(F.when(F.col("rule") == f"seq_{r}", 1).otherwise(0))
                .cast("long")
                .alias(f"n_{r}")
                for r in ("transition", "null_state", "ts_regression", "first_state")
            ],
        )
    )
    joined = (
        df.groupBy(F.col("conv_id").alias("conv"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .join(density, "conv", "left")
    )
    return finalize_conversation_report(joined)


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
    return uniqueness_violations(df, KEY_COLS).select(
        *KEY_COLS,
        F.lit("(conv_id,turn_idx)").alias("field"),
        F.lit("unique").alias("rule"),
        F.col("n_dup").cast("string").alias("value"),
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

    The row checks share one scan: a broadcast left join to the
    distinct tool catalog flags referential orphans in place
    (:func:`referential_flag`), one filter on the OR of every predicate
    keeps the failing rows, and only those build and explode their
    violation structs.

    Uniqueness depends on whether a conversation window runs:

    - ``sequence_checks``: the conv window of
      :func:`sequence_violation_rows` already hash-shuffles whole rows
      by conv_id and sorts them by (conv_id, turn_idx, ts, ...).  A
      ``count(1)`` over (conv_id, turn_idx) reuses that exchange and
      sort, and one row per duplicated key reports it (NULL keys group
      alike, as in ``groupBy``).  One scan, one exchange.
    - otherwise nothing shuffles the rows, so uniqueness stays the
      key-only :func:`_uniqueness_rows` over a second, key-pruned scan:
      cheaper than hash-shuffling and sorting every full row just to
      count keys.

    Rows equal, as a multiset, the union of the standalone checks
    (pytest-locked on clean and dirty input)."""
    ruleset = compile_schema(rules or TRANSCRIPT_RULES, df.schema)
    return _all_violations(spark, df, ruleset, sequence_checks)


def _all_violations(
    spark: SparkSession, df: DataFrame, ruleset: CompiledRuleSet, sequence_checks: bool
) -> DataFrame:
    """:func:`all_violations` over an already compiled rule set."""
    checked = referential_flag(df, "tool", tool_catalog(spark), "tool", "_orphan")
    checks = ruleset.rules + [CompiledRule("tool", "referential", F.col("_orphan"))]
    if not sequence_checks:
        return _violation_rows(checked, checks).unionAll(_uniqueness_rows(df))
    checked, seq = _sequence_checks(checked)
    # which row of a duplicated key reports it does not matter (the
    # sink row is the key and its count); ordering by ts keeps the
    # required sort a prefix of the conv window's, so no second Sort
    key = Window.partitionBy(*KEY_COLS)
    checked = checked.withColumn("_key_n", F.count(F.lit(1)).over(key)).withColumn(
        "_key_rn", F.row_number().over(key.orderBy("ts"))
    )
    unique = (F.col("_key_n") > 1) & (F.col("_key_rn") == 1)
    checks += seq + [CompiledRule("(conv_id,turn_idx)", "unique", unique, F.col("_key_n"))]
    return _violation_rows(checked, checks)


def drift_reports(df: DataFrame, baseline: DataFrame | None = None) -> DataFrame:
    """role + text-length drift vs baseline in one DataFrame.

    With an explicit baseline snapshot: two-sided histograms via
    ``drift_report`` (lazy).  Without one (self-drift around the median
    ts): a SINGLE scan computes every histogram at once — the split is
    an in-plan broadcast 1-row aggregate and both the role and
    text-length histograms come out of one GROUPING SETS aggregation;
    the KL/PSI math then runs driver-side on the collected
    histogram-sized rows (SURVEY.md §4: drift is deterministic binning
    + small math, never a second pass over the data).
    """
    import math

    from cerberus_spark.checks.drift import EPS, numeric_bin_expr

    if baseline is not None:
        current = df
        role = drift_report(
            categorical_histogram(baseline, "role"),
            categorical_histogram(current, "role"),
            "role",
        )
        tool = drift_report(
            categorical_histogram(baseline, "tool"),
            categorical_histogram(current, "tool"),
            "tool",
        )
        blen = baseline.select(F.length("text").alias("text_len"))
        clen = current.select(F.length("text").alias("text_len"))
        tlen = drift_report(
            numeric_histogram(blen, "text_len", TEXT_LEN_EDGES),
            numeric_histogram(clen, "text_len", TEXT_LEN_EDGES),
            "text_len",
        )
        return role.unionAll(tool).unionAll(tlen)

    med = df.agg(F.percentile_approx("ts", F.lit(0.5), F.lit(10000)).alias("_split"))
    tagged = df.crossJoin(F.broadcast(med)).select(
        (F.col("ts") >= F.col("_split")).alias("is_cur"),
        F.coalesce(F.col("role"), F.lit("__null__")).alias("role_bin"),
        F.coalesce(F.col("tool"), F.lit("__null__")).alias("tool_bin"),
        numeric_bin_expr(F.length("text"), TEXT_LEN_EDGES).alias("len_bin"),
    )
    gs = tagged.groupingSets(
        [["is_cur", "role_bin"], ["is_cur", "len_bin"], ["is_cur", "tool_bin"]],
        "is_cur",
        "role_bin",
        "len_bin",
        "tool_bin",
    ).agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid"))
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
        aggs.append(
            F.try_divide(F.count_if(F.col(c).isNull()), F.count(F.lit(1))).alias(
                f"__null_rate_{c}"
            )
        )
        aggs.append(F.approx_count_distinct(c).alias(f"__nd_{c}"))
    aggs.append(
        F.percentile_approx(
            F.length("text"), F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)), F.lit(2000)
        ).alias("__tl_q")
    )
    return aggs


def transcript_stats(df: DataFrame) -> DataFrame:
    """Per-column stats in ONE aggregation job (north_star: null rate,
    cardinality sketches, quantiles): null rate + HLL distinct per
    column, plus text-length percentile sketch — all partial-aggregated
    map-side, unpivoted with a struct explode (no extra scan per
    column)."""
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            *[F.col(a.format(c=c)).alias(k) for k, a in _STATS_FIELDS.items()],
        )
        for c in STATS_COLS
    ]
    return df.agg(*_stats_aggs()).select(F.explode(F.array(*structs)).alias("p")).select("p.*")


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
    return partition_summary(df.withColumn(PASSED_COL, ~ruleset.any_violated()))


def full_validation(
    spark: SparkSession,
    df: DataFrame,
    baseline: DataFrame | None = None,
    rules: dict | None = None,
    sequence_checks: bool = False,
) -> dict[str, DataFrame]:
    """Build every check's result DataFrame for a transcript table.
    All entries are lazy EXCEPT ``drift`` when ``baseline`` is None:
    the self-drift fallback runs its single histogram scan (and the
    driver-side KL/PSI math on the histogram-sized collect) at build
    time — pass an explicit baseline for a fully lazy dict.
    ``baseline`` defaults to the older half of ``df`` by median
    timestamp — in production it is the frozen snapshot table;
    ``rules`` overrides the default transcript rule set;
    ``sequence_checks`` adds the sequence family to the violations
    sink plus the per-conversation ``conversation_health`` gate."""
    ruleset = compile_schema(rules or TRANSCRIPT_RULES, df.schema)
    violations = _all_violations(spark, df, ruleset, sequence_checks)
    res_summary = violations.groupBy("field", "rule").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    out = {
        "all_violations": violations,
        "rule_summary": res_summary,
        "partition_summary": _passed_summary(df, ruleset),
        "column_stats": transcript_stats(df),
        "drift": drift_reports(df, baseline),
    }
    if sequence_checks:
        out["conversation_health"] = conversation_health(df)
    return out


def run_full_validation(
    spark: SparkSession,
    df: DataFrame,
    baseline: DataFrame | None = None,
    sink_dir: str | None = None,
    rules: dict | None = None,
    sequence_checks: bool = False,
) -> list[Row]:
    """Materialize every check (the benched unit of work), submitted
    from a small driver-side thread pool, and return the column stats:
    the rows of :func:`transcript_stats`.

    The tasks are the violations sink, the partition summary, drift
    and, with ``sink_dir``, the rollups of the sink.  They are
    independent (the sink->rollup chain stays ordered), so overlapping
    them hides the driver-side planning and scheduling each action
    pays; concurrent actions from threads are a supported Spark pattern
    (one scheduler, shared executors).  The self-drift histogram
    collect runs inside its task, so its driver-side KL math overlaps
    the other jobs too.

    The column stats have no job of their own: their aggregates are one
    ``Observation`` on the partition summary's scan.  That is one scan
    of every row in both sink shapes; the sink without
    ``sequence_checks`` scans twice, and an observation there would
    ride (and widen) its key-pruned uniqueness scan too.

    With ``sink_dir`` the violations land in a real parquet sink and
    the (field, rule) summary and the conversation health gate derive
    FROM the sink — the production shape (audit table then rollup), so
    the rule cascade and the sequence window each run once.  Without
    it, every output goes to the noop sink and the rollups recompute
    from source.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor

    ruleset = compile_schema(rules or TRANSCRIPT_RULES, df.schema)
    violations = _all_violations(spark, df, ruleset, sequence_checks)
    stats = Observation()
    summary = _passed_summary(df.observe(stats, *_stats_aggs()), ruleset)
    sink_written = threading.Event()

    def violations_task() -> None:
        if sink_dir:
            try:
                violations.write.mode("overwrite").parquet(f"{sink_dir}/violations")
            finally:
                # ALWAYS release the rollup task — on write failure it
                # reads the missing path and fails loudly too, instead
                # of deadlocking the pool
                sink_written.set()
        else:
            materialize(violations)
            materialize(
                violations.groupBy("field", "rule").agg(
                    F.count(F.lit(1)).alias("n_violations")
                )
            )

    def rollups_task() -> None:
        # gated on the write, in its own thread so it shares only the
        # WAIT with the violations task, not its thread
        sink_written.wait()
        sunk = spark.read.parquet(f"{sink_dir}/violations")
        materialize(
            sunk.groupBy("field", "rule").agg(
                F.count(F.lit(1)).alias("n_violations")
            )
        )
        if sequence_checks:
            materialize(conversation_health_from_violations(df, sunk))

    tasks = [
        violations_task,
        lambda: materialize(summary),
        lambda: materialize(drift_reports(df, baseline)),
    ]
    if sink_dir:
        tasks.append(rollups_task)
    if sequence_checks and not sink_dir:
        # no sink to roll up from: pay the recompute in its own task
        tasks.append(lambda: materialize(conversation_health(df)))
    with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
        futures = [pool.submit(t) for t in tasks]
        for f in futures:
            f.result()  # propagate the first failure
    return _stats_rows(stats.get)
