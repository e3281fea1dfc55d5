"""Sequence-structure checks over ordered per-conversation turns.

The north-rule input is a multi-turn transcript keyed by
(conv_id, turn_idx); beyond per-row rules, its *sequence* structure
carries invariants the reference validates implicitly through its
ordered per-flow state machine (kernel flow tracking walks packets of
one flow in order — internal/monitor/monitor.go:243-268 documents the
per-flow ordered update loop):

- **index contiguity** — turn_idx must be dense ``start..start+n-1``
  per conversation (a gap means a dropped turn, a duplicate means a
  replayed one);
- **timestamp monotonicity** — ts must be non-decreasing in turn
  order;
- **role-transition grammar** — the (prev_role -> role) transition
  must be in an allowed set (e.g. tool output only after an assistant
  call), with an optional allowed set for the FIRST turn.

Scale shape (the only thing that matters at 10^12 turns):

- :func:`contiguity_report` is ONE hash-partitioned groupBy with
  map-side partial aggregation — shuffle volume is |convs|, not
  |turns|; no window, no sort.
- :func:`sequence_violations` uses a single
  ``Window.partitionBy(conv).orderBy(order)`` — ONE shuffle +
  partition-local sort, then pure row-local predicates.  It
  evaluates every rule in the SAME window
  pass (conditional rule-name array -> explode), so adding rules adds
  zero exchanges.  The rules themselves are defined once, in
  :func:`sequence_rules`, over the columns :func:`sequence_window`
  adds; the pipeline's violations sink evaluates the same list.

Everything is built-in Columns — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cerberus_spark.rules import CompiledRule, ident, sql_in, sql_literal

#: separator for (prev, cur) transition encoding; \x1f never appears in
#: role vocabularies
_SEP = "\x1f"


def contiguity_report(
    df: DataFrame, conv_col: str, idx_col: str, start: int = 0
) -> DataFrame:
    """Per-conversation index-density report:
    (conv, n_rows, min_idx, max_idx, n_dup_idx, n_missing,
    n_below_start).

    ``n_missing`` counts indexes absent from ``start..max_idx`` (so a
    conversation starting late shows its leading gap) — the density
    term counts only indexes INSIDE ``[start, max_idx]``, so stray
    below-start indexes can neither mask a gap nor drive the count
    negative; they are surfaced separately as ``n_below_start``.
    ``n_dup_idx`` counts rows beyond the first per index.

    Shape: TWO-PHASE aggregation — groupBy (conv, idx) first, then
    groupBy conv over the deduped rows.  The three distinct counts
    expressed directly would plan as Expand (every input row duplicated
    once per distinct expression — ~4x the table through the shuffle);
    the two-phase form shuffles the table ONCE (map-side partial agg on
    the pair key) plus a per-(conv,idx) second pass.
    """
    idx = F.col(idx_col)
    per_idx = df.groupBy(
        F.col(conv_col).alias("conv"), idx.alias("__idx")
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    i = F.col("__idx")
    return per_idx.groupBy("conv").agg(
        F.sum("__cnt").alias("n_rows"),
        F.min(i).cast("long").alias("min_idx"),
        F.max(i).cast("long").alias("max_idx"),
        (F.sum("__cnt") - F.count(F.lit(1))).alias("n_dup_idx"),
        F.greatest(
            F.lit(0).cast("long"),
            (
                F.max(i) - F.lit(start) + 1
                - F.count(F.when(i >= start, F.lit(1)))
            ).cast("long"),
        ).alias("n_missing"),
        F.count(F.when(i < start, F.lit(1))).cast("long").alias("n_below_start"),
    )


def sequence_violations(
    df: DataFrame,
    conv_col: str,
    state_col: str,
    ts_col: str,
    order_by: list[str],
    allowed: set[tuple[str, str]],
    allowed_first: set[str] | None = None,
) -> DataFrame:
    """All state and timestamp sequence rules in ONE window pass: emits
    one row per (input row, violated rule) with ``rule`` in
    {'transition', 'null_state', 'first_state', 'ts_regression'}.

    lag(state), lag(ts) and row_number come from the same window sort
    (:func:`sequence_window`); the per-row rule names
    (:func:`sequence_rules`) are collected into a conditional array and
    exploded, so a row violating two rules yields two output rows and
    clean rows yield none — still exactly one exchange.

    NULL-state semantics match the DuckDB oracle: NULL states report
    ``null_state``; transitions are judged only between two non-NULL
    states; 'first row' is row_number()==1, so a mid-conversation NULL
    state does not make its successor look like a conversation start.
    """
    base = sequence_window(df, conv_col, state_col, ts_col, order_by)
    rules = sequence_rules(state_col, ts_col, allowed, allowed_first)
    names = ", ".join(f"CASE WHEN {r.violated} THEN {sql_literal(r.rule)} END" for r in rules)
    return base.withColumn("rule", F.expr(f"explode(array_compact(array({names})))")).drop(
        "_prev_ts", "_rn"
    )


def sequence_window(
    df: DataFrame,
    conv_col: str,
    state_col: str,
    ts_col: str,
    order_by: list[str],
    idx_col: str | None = None,
) -> DataFrame:
    """``df`` plus the window attributes every sequence rule reads:
    ``prev_state``, ``_prev_ts``, ``_rn`` (and ``_prev_idx`` with
    ``idx_col``), all from ONE ``PARTITION BY conv ORDER BY order_by``
    window — one exchange and one sort.  Materialized as plain columns
    because generators (explode) cannot embed window functions."""
    w = f"OVER (PARTITION BY {ident(conv_col)} ORDER BY {', '.join(map(ident, order_by))})"
    cols = [
        f"lag({ident(state_col)}) {w} AS prev_state",
        f"lag({ident(ts_col)}) {w} AS _prev_ts",
        f"row_number() {w} AS _rn",
    ]
    if idx_col is not None:
        cols.append(f"lag({ident(idx_col)}) {w} AS _prev_idx")
    return df.selectExpr("*", *cols)


def sequence_rules(
    state_col: str,
    ts_col: str,
    allowed: set[tuple[str, str]],
    allowed_first: set[str] | None = None,
    idx_col: str | None = None,
) -> list[CompiledRule]:
    """The sequence rules as compiled rules over the columns
    :func:`sequence_window` adds — the single definition every sequence
    consumer evaluates.  Each carries the field it reports and the
    value it reports: the state for the grammar rules, the timestamp
    for ``ts_regression``, the index for the density rules and the gap
    SIZE for ``idx_gap``.

    ``idx_col`` adds the INDEX-DENSITY rules, derived from the SAME
    window pass (at 10^12-turn scale this folds
    :func:`contiguity_report`'s separate corpus shuffle into the one
    sort already paid): ``dup_idx`` (index equals its predecessor's),
    ``below_start`` (index < 0), and ``idx_gap`` (indexes
    skipped before this row; its value is the gap SIZE, so Σ gap size
    per conv equals contiguity_report's ``n_missing``, equality
    pytest-locked).  REQUIREMENT: ``order_by`` must sort ``idx_col``
    non-decreasing within a conversation (e.g. lead with it), or gaps
    mis-derive."""
    state, ts = ident(state_col), ident(ts_col)
    transitions = [a + _SEP + b for a, b in sorted(allowed)]
    trans_ok = sql_in(f"concat_ws({sql_literal(_SEP)}, prev_state, {state})", transitions)
    state_value = f"coalesce({state}, '')"
    rules = [
        CompiledRule(
            state_col,
            "transition",
            f"(prev_state IS NOT NULL AND {state} IS NOT NULL AND NOT {trans_ok})",
            state_value,
        ),
        CompiledRule(state_col, "null_state", f"({state} IS NULL)", state_value),
        CompiledRule(ts_col, "ts_regression", f"({ts} < _prev_ts)", ts),
    ]
    if allowed_first is not None:
        rules.append(
            CompiledRule(
                state_col,
                "first_state",
                f"(_rn = 1 AND NOT {sql_in(state, sorted(allowed_first))})",
                state_value,
            )
        )
    if idx_col is not None:
        idx, prev_idx = f"CAST({ident(idx_col)} AS BIGINT)", "CAST(_prev_idx AS BIGINT)"
        # indexes skipped immediately before this row: from the
        # predecessor when it was in range, else (first in-range row
        # of the conv) from 0 — matches contiguity_report's
        # "density inside [start, max_idx]" at start = 0 exactly
        gap = (
            f"CASE WHEN {idx} >= 0 AND ({prev_idx} IS NULL OR {prev_idx} < 0) THEN {idx} "
            f"WHEN {idx} >= 0 AND {prev_idx} >= 0 THEN greatest(0L, {idx} - {prev_idx} - 1) "
            "ELSE 0L END"
        )
        rules += [
            # null-safe: contiguity_report's per-(conv, idx) grouping
            # treats NULL as one index value, so duplicate NULL indexes
            # ARE duplicates here too (idx = prev_idx alone is NULL
            # when idx is NULL and would silently pass them); _rn > 1
            # distinguishes "first row of the conv" from "predecessor
            # had a NULL index"
            CompiledRule(
                idx_col, "dup_idx", f"(_rn > 1 AND {idx} <=> {prev_idx})", ident(idx_col)
            ),
            # first row of its index only: contiguity_report counts
            # DISTINCT below-start indexes, not rows (its per-idx dedup)
            CompiledRule(
                idx_col,
                "below_start",
                f"({idx} < 0 AND ({prev_idx} IS NULL OR {idx} != {prev_idx}))",
                ident(idx_col),
            ),
            CompiledRule(idx_col, "idx_gap", f"(({gap}) > 0)", f"({gap})"),
        ]
    return rules


def reindex_turns(
    df: DataFrame,
    conv_col: str,
    order_by: list[str],
    new_col: str = "turn_idx_fixed",
) -> DataFrame:
    """Repair contiguity violations: dense re-index ``0..n-1`` per
    conversation in ``order_by`` order (``order_by`` must be a total
    order within a conversation or the result is nondeterministic).
    One shuffle + partition-local sort; the fix for the convs
    :func:`contiguity_report` flags.
    """
    w = Window.partitionBy(conv_col).orderBy(*order_by)
    return df.withColumn(new_col, (F.row_number().over(w) - 1).cast("int"))


def conversation_report(
    df: DataFrame,
    conv_col: str,
    idx_col: str,
    state_col: str,
    ts_col: str,
    order_by: list[str],
    allowed: set[tuple[str, str]],
    allowed_first: set[str] | None = None,
) -> DataFrame:
    """Per-conversation health gate — the transcript analog of the
    corpus Gopher gate: ONE row per conversation with every structural
    violation count and a composite ``keep`` flag.

    Output: (conv, n_turns, n_dup_idx, n_missing, n_below_start,
    n_transition, n_null_state, n_ts_regression, n_first_state, keep).

    Composition, not new math: the per-row rules are exactly
    :func:`sequence_violations` (one window pass) and the density terms
    exactly :func:`contiguity_report` (one partial-agg'd groupBy) — the
    counts here hash-match those operators' oracles by construction.
    Scale shape: one window shuffle + one |convs|-sized groupBy, then a
    |convs| ⋈ |convs| join of the two summaries (sort-merge on the conv
    key; both sides already reduced).  A downstream filter on ``keep``
    is the conversation-level quarantine a 10^12-turn ingest needs
    before per-turn rules even run.
    """
    rep = contiguity_report(df, conv_col, idx_col).withColumnRenamed(
        "n_rows", "n_turns"
    )
    seq = sequence_violations(
        df, conv_col, state_col, ts_col, order_by, allowed, allowed_first
    )
    counts = seq.groupBy(F.expr(f"{ident(conv_col)} AS conv")).agg(
        *rule_counts(("transition", "null_state", "ts_regression", "first_state"))
    )
    return assemble_conversation_report(rep, counts)


#: the per-conversation violation counters of conversation_report, in
#: output order — the single source for finalize's fillna/keep/select
REPORT_COUNT_COLS = [
    "n_dup_idx",
    "n_missing",
    "n_below_start",
    "n_transition",
    "n_null_state",
    "n_ts_regression",
    "n_first_state",
]


def assemble_conversation_report(rep: DataFrame, counts: DataFrame) -> DataFrame:
    """Final assembly of :func:`conversation_report`: left-join the
    per-conv ``rep`` (``conv``, ``n_turns`` and any of the
    :data:`REPORT_COUNT_COLS`) with per-conv ``counts`` (the rest of
    them), null-fill every counter (a conversation absent from a counts
    side has zero violations), derive ``keep`` and fix the column
    order.  The join is null-safe: a NULL conversation id is one
    conversation, as in the ``groupBy`` that built both sides.
    Exposed so callers that already MATERIALIZED the per-row sequence
    violations (e.g. the pipeline's audit sink) can roll the health
    gate up from those rows instead of paying the window pass twice —
    same output by construction."""
    joined = rep.join(
        counts.withColumnRenamed("conv", "_conv"), F.expr("conv <=> _conv"), "left"
    )
    filled = [f"coalesce({c}, 0)" for c in REPORT_COUNT_COLS]
    return joined.selectExpr(
        "conv",
        "n_turns",
        *[f"{f} AS {c}" for f, c in zip(filled, REPORT_COUNT_COLS)],
        f"({' AND '.join(f + ' = 0' for f in filled)}) AS keep",
    )


def rule_counts(rules, prefix: str = "") -> list:
    """``n_<rule>``: the rows of a group whose ``rule`` is
    ``prefix + rule``, one aggregate per rule."""
    return [
        F.expr(f"sum(CASE WHEN rule = {sql_literal(prefix + r)} THEN 1 ELSE 0 END) AS n_{r}")
        for r in rules
    ]
