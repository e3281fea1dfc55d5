"""Constraint suggestion: profile a table and propose rule dicts for
the validator (the Deequ ``ConstraintSuggestion`` shape — the reference
hand-writes its rule tables, e.g. the allowed-port sets at
``internal/monitor/monitor.go:83-90``; this derives them from data).

Scale shape — TWO passes total, never one job per column:

1. one full scan computing every per-column base stat as map-side
   partial aggregates collapsed into a SINGLE output row (count, null
   counts, min/max, length bounds, ``approx_count_distinct``);
2. one more scan ONLY if some string column's approximate cardinality
   is under the cap — all such columns' distinct sets are collected in
   the same single aggregation (``collect_set`` partial state is
   bounded: the HLL gate guarantees ≤ ~2·cap distinct values per
   column, so executor memory is safe by construction).

The driver receives one row per pass (histogram-sized — the sanctioned
driver-side collect), builds suggestions in plain Python, and returns
them as a tiny local DataFrame ``(field, rule, value)``.  The HLL gate
is the 100 TB move: an exact per-column distinct count would shuffle
|user_id| rows just to learn "too many"; HLL answers map-side.

Suggested vocabulary (all consumable by :func:`rules.compile_schema`):
``nullable`` (false iff zero nulls), ``allowed`` (sorted distinct set,
string columns under the cap), ``min``/``max`` (numeric + timestamp),
``minlength``/``maxlength`` (string length envelope).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cerberus_spark.sources.tables import local_table

#: string columns whose approx cardinality exceeds gate_margin * cap
#: are never exact-counted (collect_set memory guard)
GATE_MARGIN = 2.0


def _fmt(v: Any) -> str:
    """Engine-stable rendering: doubles as fixed %.6f (identical
    doubles print identically in C printf and Python), timestamps as
    UTC seconds, ints as plain digits."""
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def profile_columns(
    df: DataFrame,
    fields: list[str] | None = None,
    distinct_cap: int = 16,
) -> dict[str, dict[str, Any]]:
    """Per-column profile dict: n, nulls, and per-type extras (lo/hi,
    len_lo/len_hi, values for gated string columns)."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    names = fields or list(schema)
    num_t = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType, T.DecimalType)
    ts_t = (T.TimestampType, T.TimestampNTZType, T.DateType)

    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in names:
        c = F.col(f)
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"nulls__{f}"))
        dt = schema[f]
        if isinstance(dt, num_t + ts_t):
            aggs += [F.min(c).alias(f"lo__{f}"), F.max(c).alias(f"hi__{f}")]
        elif isinstance(dt, T.StringType):
            aggs += [
                F.min(F.length(c)).alias(f"len_lo__{f}"),
                F.max(F.length(c)).alias(f"len_hi__{f}"),
                F.approx_count_distinct(c).alias(f"acd__{f}"),
            ]
    row = df.agg(*aggs).collect()[0].asDict()

    gated = [
        f for f in names
        if isinstance(schema[f], T.StringType)
        and row[f"acd__{f}"] <= GATE_MARGIN * distinct_cap
    ]
    sets: dict[str, list] = {}
    if gated and row["__n"] > 0:
        srow = df.agg(
            *[F.sort_array(F.collect_set(F.col(f))).alias(f) for f in gated]
        ).collect()[0]
        sets = {f: list(srow[f]) for f in gated}

    out: dict[str, dict[str, Any]] = {}
    for f in names:
        p: dict[str, Any] = {"n": row["__n"], "nulls": row[f"nulls__{f}"] or 0}
        for k in ("lo", "hi", "len_lo", "len_hi"):
            if f"{k}__{f}" in row:
                p[k] = row[f"{k}__{f}"]
        vals = sets.get(f)
        if vals and len(vals) <= distinct_cap:  # never an empty allowed set
            p["values"] = vals  # exact check: HLL gate is approximate
        out[f] = p
    return out


def suggest_ruleset(
    df: DataFrame,
    fields: list[str] | None = None,
    distinct_cap: int = 16,
) -> dict[str, dict[str, Any]]:
    """Rule dicts ready for :func:`rules.compile_schema`.  By
    construction the profiled table itself validates clean against the
    suggestion (observed envelope, inclusive bounds)."""
    prof = profile_columns(df, fields, distinct_cap)
    rs: dict[str, dict[str, Any]] = {}
    for f, p in prof.items():
        fr: dict[str, Any] = {"nullable": p["nulls"] > 0}
        if "values" in p:
            fr["allowed"] = p["values"]
        if p.get("lo") is not None:
            fr["min"], fr["max"] = p["lo"], p["hi"]
        if p.get("len_lo") is not None:
            fr["minlength"], fr["maxlength"] = int(p["len_lo"]), int(p["len_hi"])
        rs[f] = fr
    return rs


def suggestion_rows(
    spark: SparkSession,
    df: DataFrame,
    fields: list[str] | None = None,
    distinct_cap: int = 16,
) -> DataFrame:
    """Normalized ``(field, rule, value)`` suggestion rows (the
    auditable form; values rendered engine-stable via :func:`_fmt`,
    allowed sets joined sorted with ``|``)."""
    prof = profile_columns(df, fields, distinct_cap)
    rows: list[tuple[str, str, str]] = []
    for f, p in sorted(prof.items()):
        if p["n"] == 0:
            continue
        rows.append((f, "nullable", "true" if p["nulls"] > 0 else "false"))
        if "values" in p:
            rows.append((f, "allowed", "|".join(p["values"])))
        if p.get("lo") is not None:
            rows.append((f, "min", _fmt(p["lo"])))
            rows.append((f, "max", _fmt(p["hi"])))
        if p.get("len_lo") is not None:
            rows.append((f, "minlength", str(int(p["len_lo"]))))
            rows.append((f, "maxlength", str(int(p["len_hi"]))))
    return local_table(spark, rows, "field string, rule string, value string")


def suggest_bin_edges(
    df: DataFrame,
    column: str,
    n_bins: int = 8,
) -> list[float]:
    """Equi-depth bin edges for :func:`drift.numeric_histogram`: the
    (i/n)-quantiles of ``column``, rounded to 6 decimals then deduplicated (a heavy
    point mass collapses its edges — fewer, still-valid bins).

    This is how the FROZEN drift edges should be derived ONCE from the
    baseline snapshot and stored next to it (SURVEY §7 "deterministic
    drift": edges must never be re-derived per run — this function is
    the derive-once step).  Exact ``percentile`` here; at 10^12 rows
    use ``percentile_approx`` — edges stay frozen either way.

    Returns ``n_bins + 1`` (or fewer after dedup) ascending floats.
    """
    probs = [i / n_bins for i in range(n_bins + 1)]
    arr = df.agg(
        F.expr(
            f"percentile({column}, array({', '.join(str(p) for p in probs)}))"
        ).alias("qs")
    ).collect()[0]["qs"]
    out: list[float] = []
    for v in arr:
        r = round(float(v), 6)
        if not out or r > out[-1]:
            out.append(r)
    return out


def suggest_ruleset_json(
    df: DataFrame,
    fields: list[str] | None = None,
    distinct_cap: int = 16,
) -> dict[str, dict[str, Any]]:
    """JSON-serializable variant of :func:`suggest_ruleset` for the
    ``--suggest-rules`` job bootstrap: timestamp bounds rendered as
    ``YYYY-MM-DD HH:MM:SS`` strings (Spark coerces the string literal
    back to timestamp when the rule compiles), numerics kept native."""
    rs = suggest_ruleset(df, fields, distinct_cap)
    for fr in rs.values():
        for k in ("min", "max"):
            if isinstance(fr.get(k), (_dt.datetime, _dt.date)):
                fr[k] = _fmt(fr[k])
    return rs
