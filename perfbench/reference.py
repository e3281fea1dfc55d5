"""DuckDB references and output checks.

References are computed once per seed over the landed parquet, outside
every timed window, and compared with what each timed job wrote.
"""

from __future__ import annotations

import os

import duckdb

from cerberus_spark.pipeline import (
    TRANSCRIPT_FIRST_ROLES,
    TRANSCRIPT_RULES,
    TRANSCRIPT_TRANSITIONS,
)
from cerberus_spark.sources.catalog import TOOLS


def _glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def _lit_list(values) -> str:
    return ", ".join("'" + str(v).replace("'", "''") + "'" for v in sorted(values))


def _sequence_rules() -> list[tuple[str, str, str]]:
    """(field, rule, predicate) of the sequence family: the role grammar
    plus index density."""
    allowed = _lit_list(f"{a}\x1f{b}" for a, b in TRANSCRIPT_TRANSITIONS)
    first = _lit_list(TRANSCRIPT_FIRST_ROLES)
    return [
        ("role", "seq_transition",
         f"prev_role IS NOT NULL AND role IS NOT NULL AND prev_role || chr(31) || role NOT IN ({allowed})"),
        ("role", "seq_null_state", "role IS NULL"),
        ("ts", "seq_ts_regression", "coalesce(ts < prev_ts, false)"),
        ("role", "seq_first_state", f"rn = 1 AND coalesce(role NOT IN ({first}), false)"),
        ("turn_idx", "seq_dup_idx", "rn > 1 AND turn_idx IS NOT DISTINCT FROM prev_idx"),
        ("turn_idx", "seq_below_start",
         "turn_idx < 0 AND (prev_idx IS NULL OR turn_idx != prev_idx)"),
        ("turn_idx", "seq_idx_gap",
         "CASE WHEN turn_idx >= 0 AND (prev_idx IS NULL OR prev_idx < 0) THEN turn_idx "
         "WHEN turn_idx >= 0 AND prev_idx >= 0 THEN greatest(0, turn_idx - prev_idx - 1) "
         "ELSE 0 END > 0"),
    ]


def _row_rules() -> list[tuple[str, str, str]]:
    """(field, rule, predicate) of the transcript rule set."""
    r = TRANSCRIPT_RULES
    return [
        ("conv_id", "required", "conv_id IS NULL"),
        ("conv_id", "regex", f"NOT regexp_full_match(conv_id, '{r['conv_id']['regex']}')"),
        ("turn_idx", "required", "turn_idx IS NULL"),
        ("turn_idx", "min", f"turn_idx < {r['turn_idx']['min']}"),
        ("turn_idx", "max", f"turn_idx > {r['turn_idx']['max']}"),
        ("role", "required", "role IS NULL"),
        ("role", "allowed", f"role NOT IN ({_lit_list(r['role']['allowed'])})"),
        ("text", "required", "text IS NULL"),
        ("text", "maxlength", f"length(text) > {r['text']['maxlength']}"),
        ("text", "empty", "length(text) = 0"),
        ("tool", "dependencies", "tool IS NOT NULL AND NOT coalesce(role = 'tool', false)"),
        ("ts", "required", "ts IS NULL"),
    ]


def failing_rows(path: str) -> int:
    """Rows breaking at least one rule of the transcript rule set."""
    preds = " OR ".join(f"coalesce({p}, false)" for _, _, p in _row_rules())
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{_glob(path)}') WHERE {preds}").fetchone()[0]


def violation_rollup(path: str) -> dict[tuple[str, str], int]:
    """``(field, rule) -> n`` that ``run_full_validation(sequence_checks=True)``
    must write: the transcript rule set, uniqueness on (conv_id, turn_idx),
    the tool catalog and the sequence grammar with index density."""
    src = _glob(path)
    row_rules = _row_rules() + [
        ("tool", "referential", f"tool IS NOT NULL AND tool NOT IN ({_lit_list(t for t, _, _ in TOOLS)})"),
    ]

    def counts(rules, frm):
        cols = ", ".join(f"count(*) FILTER (WHERE coalesce({p}, false))" for _, _, p in rules)
        return zip(rules, duckdb.sql(f"SELECT {cols} FROM {frm}").fetchone())

    out = {}
    for (field, rule, _), n in counts(row_rules, f"read_parquet('{src}')"):
        out[(field, rule)] = n
    # Spark sorts NULLs first; DuckDB must be told
    seq_from = f"""(SELECT turn_idx, role, ts,
        lag(role) OVER w AS prev_role, lag(ts) OVER w AS prev_ts,
        row_number() OVER w AS rn, lag(turn_idx) OVER w AS prev_idx
      FROM read_parquet('{src}')
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
                   ts ASC NULLS FIRST, role ASC NULLS FIRST, text ASC NULLS FIRST))"""
    for (field, rule, _), n in counts(_sequence_rules(), seq_from):
        out[(field, rule)] = n
    (out[("(conv_id,turn_idx)", "unique")],) = duckdb.sql(
        f"SELECT count(*) FROM (SELECT 1 FROM read_parquet('{src}') "
        "GROUP BY conv_id, turn_idx HAVING count(*) > 1)"
    ).fetchone()
    return {k: v for k, v in out.items() if v}


def sink_rollup(sink: str) -> dict[tuple[str, str], int]:
    rows = duckdb.sql(
        f"SELECT field, rule, count(*) FROM read_parquet('{_glob(sink)}') GROUP BY ALL"
    ).fetchall()
    return {(f, r): n for f, r, n in rows}


def check_corpus(out: str, n_input: int) -> dict:
    """Self-accounting of ``clean_corpus``'s sinks: every input doc is
    either kept or dropped, never both.  Returns the drop tallies."""
    kept, dropped = _glob(os.path.join(out, "kept")), _glob(os.path.join(out, "dropped"))
    n_kept, n_dropped, both = duckdb.sql(
        f"""WITH k AS (SELECT DISTINCT doc_id AS id FROM read_parquet('{kept}')),
                 d AS (SELECT DISTINCT id FROM read_parquet('{dropped}'))
            SELECT (SELECT count(*) FROM k), (SELECT count(*) FROM d),
                   (SELECT count(*) FROM k JOIN d USING (id))"""
    ).fetchone()
    stages = dict(
        duckdb.sql(
            f"SELECT stage, count(DISTINCT id) FROM read_parquet('{dropped}') GROUP BY stage"
        ).fetchall()
    )
    return {
        "accounted": n_kept + n_dropped == n_input and both == 0,
        "kept": n_kept,
        "stages": stages,
    }

