"""Cerberus NORMALIZATION phase compiled to one Spark projection.

Cerberus validators don't only validate — ``validator.normalized(doc)``
applies normalization rules BEFORE validation (reference semantics:
Cerberus docs, normalization rules; the Go reference consumes
already-normalized events, internal/monitor/monitor.go:212).  A user
migrating from Cerberus needs the same phase table-side:

- ``rename``        — field is emitted under a new name;
- ``purge_unknown`` — columns in no schema entry (and not a key) are
  dropped (Cerberus's ``purge_unknown=True``; default keeps them,
  mirroring ``allow_unknown``);
- ``default``       — fills NULL values (the table-world collapse of
  Cerberus's "missing key": a column-store row can't lack a column, so
  missing ≡ NULL — documented divergence);
- ``coerce``        — named coercer chain applied AFTER the default
  (Cerberus normalization order: renaming → purging → defaults →
  coercion).  Coercers are a fixed registry of engine-portable column
  transforms (``try_cast`` for lossy casts — Spark 4 ANSI mode raises
  on plain cast of dirty input); Cerberus's arbitrary-callable coercers
  deliberately map to this registry, not per-row Python.

The whole phase is ONE ``select`` — zero shuffles, codegen'd, the same
scan-shape as rule evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cerberus_spark.rules import SchemaError

#: engine-portable named coercers (the sanctioned subset of Cerberus's
#: callable coercers); lossy casts use try_cast -> NULL on garbage,
#: which the validation phase then reports as required/type violations
COERCERS: dict[str, object] = {
    "int": lambda c: c.try_cast("long"),
    "float": lambda c: c.try_cast("double"),
    "str": lambda c: c.cast("string"),
    "bool": lambda c: c.try_cast("boolean"),
    "timestamp": lambda c: c.try_cast("timestamp"),
    "lower": F.lower,
    "upper": F.upper,
    "strip": F.trim,
}


def _coerce_chain(col: Column, spec) -> Column:
    names = spec if isinstance(spec, (list, tuple)) else [spec]
    for name in names:
        fn = COERCERS.get(name)
        if fn is None:
            raise SchemaError(
                f"unknown coercer {name!r}; registered: {sorted(COERCERS)}"
            )
        col = fn(col)
    return col


def normalize_documents(
    df: DataFrame,
    schema: dict,
    keys: tuple[str, ...] | list[str] = (),
    purge_unknown: bool = False,
) -> DataFrame:
    """Apply the normalization phase of ``schema`` to ``df``.

    Output column order: key columns first (always kept), then
    remaining input columns in input order (renamed fields under their
    new names; unknown columns dropped when ``purge_unknown``), so a
    schema-free column like an ingestion timestamp survives by default.

    A schema field absent from the input requires a ``default``
    (otherwise there is nothing to emit — SchemaError at compile time,
    matching the rule compiler's fail-fast convention).
    """
    renames = {}
    exprs: dict[str, Column] = {}
    for field, rules in schema.items():
        bad = {"rename_handler", "default_setter", "purge_unknown"} & set(rules)
        if bad:
            raise SchemaError(
                f"unsupported normalization rule(s) {sorted(bad)} on {field!r}"
                " (callable handlers don't map to column expressions;"
                " purge_unknown is an argument, not a field rule)"
            )
        target = rules.get("rename", field)
        if not isinstance(target, str) or not target:
            raise SchemaError(f"rename on {field!r} must be a non-empty string")
        if field in df.columns:
            col = F.col(field)
        elif "default" in rules:
            col = F.lit(None)
        else:
            raise SchemaError(
                f"schema field {field!r} absent from input and has no default"
            )
        if "default" in rules:
            col = F.coalesce(col, F.lit(rules["default"]))
        if "coerce" in rules:
            col = _coerce_chain(col, rules["coerce"])
        if target in exprs:
            raise SchemaError(f"two schema fields normalize to the same name {target!r}")
        exprs[target] = col
        if target != field:
            renames[field] = target

    out = []
    seen = set()
    for k in keys:
        if k in seen:
            continue
        seen.add(k)
        out.append(exprs.pop(k).alias(k) if k in exprs else F.col(k))
    for c in df.columns:
        name = renames.get(c, c)
        if name in seen:
            continue
        if name in exprs:
            out.append(exprs.pop(name).alias(name))
            seen.add(name)
        elif c in schema:
            continue  # target already emitted (it was a key column)
        elif purge_unknown:
            continue
        else:
            out.append(F.col(c))
            seen.add(name)
    # schema fields absent from the input (default-created), in schema order
    for name, col in exprs.items():
        if name not in seen:
            out.append(col.alias(name))
            seen.add(name)
    return df.select(*out)
