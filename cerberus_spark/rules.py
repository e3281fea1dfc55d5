"""Rule-dict -> Catalyst predicate compiler.

The reference classifies every event through hand-written per-row rule
cascades (reference: internal/monitor/monitor.go:80-188 — allowed port
sets, bitmask tests, value equality, enum dispatch, prefix matching,
byte-range predicates).  We generalize those shapes into a declarative,
Cerberus-style rule vocabulary and compile each rule ONCE on the driver
into Spark SQL text, evaluated columnarly for every row — no per-row
Python, no shuffle.  Text, not ``Column`` trees: every ``Column``
method costs several py4j round trips through PySpark's call-site
capture, while a stage built from text is one parse on the JVM.
``CompiledRuleSet.any_violated`` ORs the predicates into one plain
boolean that stays inside whole-stage codegen; the per-rule violation
structs (``violation_array``) are built only for the rows it flags.

Rule vocabulary (per field):
    type:         logical type name; checked against the DataFrame
                  schema at COMPILE time (a mismatch is a schema error,
                  like the reference's record-length check,
                  cmd/cerberus/main.go:173-177)
    required:     True -> NULL is a violation ("required")
    nullable:     False -> NULL is a violation ("nullable");
                  True -> NULLs skip all other checks for this field
    allowed:      list of allowed values (reference: TCP port allowlist
                  monitor.go:83-90, ICMP type switch monitor.go:137-150)
    forbidden:    list of disallowed values
    min / max:    inclusive bounds (reference: TLS version byte range,
                  ebpf/cerberus_tc.c:108-122)
    minlength / maxlength: bounds on string/array length
    regex:        full-match-or-violation via rlike (reference: HTTP
                  method prefix rules monitor.go:165-173)
    empty:        False -> empty string is a violation
    dependencies: {"other_field": value-or-list} — this field may be
                  non-null only when every dependency holds (reference:
                  ARP src==dst cross-field rule monitor.go:121-134)
    custom:       a SQL lambda over the value returning True when
                  VALID, e.g. ``"v -> length(v) % 2 = 0"`` (escape
                  hatch; still a Catalyst expression)
    vcheck:       name of a registered Arrow-vectorized checker
                  (pandas_udf registered as a session function; the
                  designated slow path for semantics Catalyst can't
                  express)
    schema:       nested field rules for dict (struct/map) fields —
                  compiled to ``parent.`sub``` / ``parent['sub']``
                  predicates, violations reported as "parent.sub"; the
                  reference's analog is composed kernel pre-classifiers
                  checking port AND payload-content predicates on one
                  packet (ebpf/cerberus_tc.c:90-122).  Recurses: a
                  subfield may itself carry schema/items/anyof.
    items:        element rules for list fields, evaluated via
                  ``exists`` (a row violates "items.<rule>" when ANY
                  element violates <rule>) — no explode, no shuffle;
                  an element-level ``schema`` handles arrays of structs
                  ("items.<sub>.<rule>").
    anyof/oneof/allof/noneof:
                  list of alternative value-rule dicts; the value must
                  satisfy at least one (anyof) / exactly one (oneof) /
                  all (allof) / none (noneof) of the alternatives in
                  full.  Compiled to an exact-count of per-alternative
                  conjunctions — still one Catalyst predicate.
    contains:     the array value must contain ALL the given members
                  (``array_except`` against the literal set)
    excludes:     this field may be non-null only when every named
                  sibling field is null (mutual exclusion — the
                  cross-field inverse of ``dependencies``)
    keysrules / valuesrules:
                  value rules applied to every key / value of a dict
                  (map) field via ``exists`` over ``map_keys`` /
                  ``map_values`` — violations "keysrules.<rule>" /
                  "valuesrules.<rule>", no explode, no shuffle.

Violation output is normalized rows ``(…keys, field, rule, value)`` —
the engine's analog of the reference's CommunicationPattern finding rows
(internal/models/types.go:97-108).
"""

from __future__ import annotations

import datetime
import math
import re
from dataclasses import dataclass, field as dc_field
from decimal import Decimal
from typing import Any, Callable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# type name -> acceptable Spark types
# ---------------------------------------------------------------------------

_INTEGER_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType, T.DecimalType)

TYPE_MAP: dict[str, tuple[type, ...]] = {
    "string": (T.StringType,),
    "integer": _INTEGER_TYPES,
    "float": _FLOAT_TYPES,
    "number": _INTEGER_TYPES + _FLOAT_TYPES,
    "boolean": (T.BooleanType,),
    "timestamp": (T.TimestampType, T.TimestampNTZType),
    "date": (T.DateType,),
    "binary": (T.BinaryType,),
    "list": (T.ArrayType,),
    "dict": (T.MapType, T.StructType),
}

KNOWN_RULES = {
    "type", "required", "nullable", "allowed", "forbidden", "min", "max",
    "minlength", "maxlength", "regex", "empty", "dependencies", "custom",
    "vcheck", "schema", "items", "anyof", "oneof", "allof", "noneof",
    "contains", "excludes", "keysrules", "valuesrules",
}

#: rules usable inside anyof/oneof alternatives and items dicts
#: (pure value predicates — no nullability, no cross-field refs; "type"
#: is excluded: a Spark column has exactly one type, checked at compile
#: time on the field itself)
VALUE_RULES = {
    "allowed", "forbidden", "min", "max", "minlength", "maxlength",
    "regex", "empty", "custom", "contains",
}


class SchemaError(ValueError):
    """Raised at compile time for malformed rule dicts / type mismatches."""


# ---------------------------------------------------------------------------
# Arrow-vectorized checker registry (the ONLY sanctioned Python-side path)
# ---------------------------------------------------------------------------

def _vcheck_json_object(s: pd.Series) -> pd.Series:
    """True when the string parses as a JSON object."""
    import json

    def ok(x: Any) -> bool:
        if x is None:
            return True  # null-ness handled by required/nullable rules
        try:
            return isinstance(json.loads(x), dict)
        except Exception:
            return False

    return s.map(ok).astype("boolean")


def _vcheck_printable(s: pd.Series) -> pd.Series:
    """True when the string contains no C0 control chars (except \\t\\n\\r)."""
    pat = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
    return s.map(lambda x: x is None or pat.search(x) is None).astype("boolean")


VCHECKS: dict[str, Callable[[pd.Series], pd.Series]] = {
    "json_object": _vcheck_json_object,
    "printable": _vcheck_printable,
}


# ---------------------------------------------------------------------------
# SQL text
# ---------------------------------------------------------------------------

#: the type of a row's violation array (:meth:`CompiledRuleSet.violation_array`)
VIOLATION_ARRAY = "array<struct<field:string,rule:string,value:string>>"

#: the element variable of the compiler's SQL lambdas
_ELEM = "_e"


def ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_literal(v: Any) -> str:
    """``v`` as a Spark SQL literal that selects back equal: str, int
    (``L``-suffixed beyond int32), float (inf/nan included), bool, date,
    datetime (naive means local time, as ``F.lit`` reads it) and
    Decimal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(v, float):
        return repr(v) + "D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"
    if isinstance(v, Decimal):
        return format(v, "f") + "BD"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.astimezone().isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no Spark SQL literal for {type(v).__name__} {v!r}")


def sql_in(expr: str, values) -> str:
    """``expr IN (values)``; FALSE for no values."""
    if not values:
        return "FALSE"
    return f"({expr} IN ({', '.join(sql_literal(v) for v in values)}))"


# ---------------------------------------------------------------------------
# compiled form
# ---------------------------------------------------------------------------

@dataclass
class CompiledRule:
    field: str
    rule: str
    violated: str  # SQL boolean: TRUE when the row VIOLATES the rule
    value: str  # SQL expression of the reported value


@dataclass
class CompiledRuleSet:
    rules: list[CompiledRule]
    schema_errors: list[str] = dc_field(default_factory=list)

    def violation_array(self) -> str:
        """SQL: the struct<field,rule,value> of every rule the row
        violates, one ``CASE WHEN`` per compiled rule."""
        if not self.rules:
            return f"CAST(array() AS {VIOLATION_ARRAY})"
        structs = ", ".join(
            f"CASE WHEN {r.violated} THEN named_struct('field', {sql_literal(r.field)}, "
            f"'rule', {sql_literal(r.rule)}, 'value', CAST({r.value} AS STRING)) END"
            for r in self.rules
        )
        return f"array_compact(array({structs}))"

    def any_violated(self) -> str:
        """SQL plain boolean: the row violates at least one rule.  A
        NULL predicate counts as not violated, as in
        :meth:`violation_array`.  Cheap to evaluate on every row, so
        callers filter on it before building the struct array."""
        if not self.rules:
            return "FALSE"
        return f"coalesce({' OR '.join(r.violated for r in self.rules)}, FALSE)"


def _null_gate(col: str, pred: str) -> str:
    """Value rules only fire on non-null values (null-ness has its own
    rules); mirrors the reference's bounds-check-before-read discipline
    (ebpf/cerberus_tc.c:129-139)."""
    return f"({col} IS NOT NULL AND {pred})"


def _length_fn(dtype: T.DataType | None, want: str | None) -> str:
    """strings/binary use length; arrays/maps use size (length on an
    ArrayType raises AnalysisException at plan time).  Decide from the
    actual type when known, else from the declared logical type."""
    if dtype is not None:
        return "size" if isinstance(dtype, (T.ArrayType, T.MapType)) else "length"
    return "size" if want in ("list", "dict") else "length"


def _value_pred(col: str, rname: str, rval: Any, length_fn: str) -> str:
    """Raw (un-null-gated) violation predicate for one value rule
    evaluated against an arbitrary SQL expression — shared by top-level
    fields, nested schema paths, array elements (inside ``exists``
    lambdas) and anyof/oneof alternatives."""
    if rname == "allowed":
        return f"(NOT {sql_in(col, list(rval))})"
    if rname == "forbidden":
        return sql_in(col, list(rval))
    if rname == "contains":
        # Cerberus semantics: the collection must contain ALL the given
        # values (scalar rval = one required member); array columns only
        req = rval if isinstance(rval, (list, tuple, set)) else [rval]
        members = ", ".join(sql_literal(x) for x in req)
        return f"(size(array_except(array({members}), {col})) > 0)"
    if rname == "min":
        return f"({col} < {sql_literal(rval)})"
    if rname == "max":
        return f"({col} > {sql_literal(rval)})"
    if rname == "minlength":
        return f"({length_fn}({col}) < {int(rval)})"
    if rname == "maxlength":
        return f"({length_fn}({col}) > {int(rval)})"
    if rname == "regex":
        # Cerberus semantics: the WHOLE value must match (re.fullmatch
        # in the python twin).  Anchor with a non-capturing group:
        # "^" + "cat|dog" + "$" would parse as (^cat)|(dog$) because
        # alternation binds looser than the anchors.
        return f"(NOT {col} RLIKE {sql_literal(f'^(?:{rval})$')})"
    if rname == "empty":
        # only `empty: False` compiles to a rule; uses length_fn so it
        # works on arrays/maps too (not just strings)
        return f"({length_fn}({col}) = 0)"
    if rname == "custom":
        if not isinstance(rval, str):
            raise SchemaError("custom must be a SQL lambda string, e.g. 'v -> length(v) > 0'")
        # a one-element exists applies the user's lambda to the value
        return f"(NOT exists(array({col}), {rval}))"
    raise SchemaError(f"rule {rname!r} is not a value rule")


#: deterministic emission order for value rules (dict order of user
#: schemas is preserved elsewhere; within one field we fix the order)
_VALUE_RULE_ORDER = (
    "allowed", "forbidden", "contains", "min", "max", "minlength",
    "maxlength", "regex",
)


def _iter_value_rules(fr: dict[str, Any]):
    """(rule_name, rule_value) for the plain value rules present in
    ``fr``, in canonical order; `empty` only when explicitly False."""
    for rname in _VALUE_RULE_ORDER:
        if rname in fr:
            yield rname, fr[rname]
    if fr.get("empty", True) is False:
        yield "empty", False
    if "custom" in fr:
        yield "custom", fr["custom"]


def _alternative_ok(col: str, alt: dict[str, Any], length_fn: str) -> str:
    """True when ``col`` (non-null) fully satisfies one anyof/oneof
    alternative."""
    if not isinstance(alt, dict) or not alt:
        raise SchemaError("anyof/oneof alternatives must be non-empty dicts")
    unknown = set(alt) - VALUE_RULES
    if unknown:
        raise SchemaError(
            f"rule(s) {sorted(unknown)} not allowed inside anyof/oneof"
        )
    oks = [
        f"NOT coalesce({_value_pred(col, rname, rval, length_fn)}, FALSE)"
        for rname, rval in _iter_value_rules(alt)
    ]
    return f"({' AND '.join(oks) or 'TRUE'})"


def _sibling(
    path: str, what: str, name: str, parent: tuple[str, T.DataType | None] | None,
    schema_errors: list[str],
) -> str | None:
    """The column a ``dependencies``/``excludes`` entry names: top-level,
    or a subfield of the same struct/map parent (None, with a schema
    error, when the parent schema lacks it)."""
    if parent is None:
        return ident(name)
    scol, _, known = _resolve_sub(parent[0], parent[1], name)
    if not known:
        schema_errors.append(f"field {path!r}: {what} {name!r} not in parent schema")
        return None
    return scol


def _compile_field(
    path: str,
    col: str,
    fr: dict[str, Any],
    dtype: T.DataType | None,
    rules: list[CompiledRule],
    schema_errors: list[str],
    parent: tuple[str, T.DataType | None] | None = None,
) -> None:
    """Compile one field's rules (recursing into schema/items/anyof).

    ``col`` is the field's SQL expression.  ``parent`` is
    (parent_expr, parent_dtype) for nested paths — nested
    required/nullable only fire when the parent itself is non-null, and
    ``dependencies`` resolve against sibling subfields.
    """
    if not isinstance(fr, dict):
        raise SchemaError(f"rules for field {path!r} must be a dict")
    unknown = set(fr) - KNOWN_RULES
    if unknown:
        raise SchemaError(f"unknown rule(s) {sorted(unknown)} for field {path!r}")

    # --- compile-time type check -------------------------------------
    want = fr.get("type")
    if want is not None:
        accept = TYPE_MAP.get(want)
        if accept is None:
            raise SchemaError(f"unknown type {want!r} for field {path!r}")
        if dtype is not None:
            if not isinstance(dtype, accept):
                schema_errors.append(
                    f"field {path!r}: declared type {want!r}, "
                    f"input has {dtype.simpleString()}"
                )
                return

    null_violated = (
        f"({col} IS NULL)" if parent is None else f"({parent[0]} IS NOT NULL AND {col} IS NULL)"
    )
    if fr.get("required", False):
        rules.append(CompiledRule(path, "required", null_violated, col))
    elif fr.get("nullable", True) is False:
        rules.append(CompiledRule(path, "nullable", null_violated, col))

    length_fn = _length_fn(dtype, want)
    for rname, rval in _iter_value_rules(fr):
        rules.append(
            CompiledRule(
                path, rname, _null_gate(col, _value_pred(col, rname, rval, length_fn)), col
            )
        )

    if "dependencies" in fr:
        dep = fr["dependencies"]
        if isinstance(dep, str):
            dep = {dep: None}
        elif isinstance(dep, (list, tuple)):
            dep = {d: None for d in dep}
        conds = []
        for dfield, dval in dep.items():
            dcol = _sibling(path, "dependency", dfield, parent, schema_errors)
            if dcol is None:
                continue
            if dval is None:
                conds.append(f"{dcol} IS NOT NULL")
            elif isinstance(dval, (list, tuple, set)):
                # coalesce(FALSE): a NULL dependency column must mean
                # NOT-met (three-valued logic would otherwise turn the
                # whole predicate NULL and swallow the violation)
                conds.append(f"coalesce({sql_in(dcol, list(dval))}, FALSE)")
            else:
                conds.append(f"coalesce({dcol} = {sql_literal(dval)}, FALSE)")
        if conds:
            # field may only be non-null when all dependencies hold
            met = " AND ".join(conds)
            rules.append(
                CompiledRule(path, "dependencies", f"({col} IS NOT NULL AND NOT ({met}))", col)
            )

    if "excludes" in fr:
        # mutual exclusion: this field may only be non-null when every
        # excluded sibling is null (Cerberus `excludes`)
        exc = fr["excludes"]
        if isinstance(exc, str):
            exc = [exc]
        present = [
            f"{ecol} IS NOT NULL"
            for ecol in (_sibling(path, "excludes", e, parent, schema_errors) for e in exc)
            if ecol is not None
        ]
        if present:
            rules.append(
                CompiledRule(
                    path, "excludes", f"({col} IS NOT NULL AND ({' OR '.join(present)}))", col
                )
            )

    # --- map-element rules: keysrules / valuesrules ------------------
    for mrule, getter, side in (
        ("keysrules", "map_keys", "key"),
        ("valuesrules", "map_values", "value"),
    ):
        if mrule not in fr:
            continue
        mfr = fr[mrule]
        if not isinstance(mfr, dict):
            raise SchemaError(f"{mrule} for field {path!r} must be a dict")
        bad = set(mfr) - VALUE_RULES
        if bad:
            raise SchemaError(
                f"rule(s) {sorted(bad)} not allowed inside {mrule} for {path!r}"
            )
        if dtype is not None and not isinstance(dtype, T.MapType):
            schema_errors.append(
                f"field {path!r}: {mrule} needs dict, input has {dtype.simpleString()}"
            )
            continue
        elem_dtype = None
        if isinstance(dtype, T.MapType):
            elem_dtype = dtype.keyType if side == "key" else dtype.valueType
        elem_len = _length_fn(elem_dtype, None)
        for rname, rval in _iter_value_rules(mfr):
            # NULL map value -> NULL pred; exists skips it (keys are
            # never null) — same null-gate discipline as items
            pred = _value_pred(_ELEM, rname, rval, elem_len)
            rules.append(
                CompiledRule(
                    path,
                    f"{mrule}.{rname}",
                    _null_gate(col, f"exists({getter}({col}), {_ELEM} -> {pred})"),
                    col,
                )
            )

    if "vcheck" in fr:
        name = fr["vcheck"]
        fn = VCHECKS.get(name)
        if fn is None:
            raise SchemaError(f"unknown vcheck {name!r} for field {path!r}")
        # a session function, so the predicate stays SQL text
        udf_name = f"cerberus_vcheck_{name}"
        SparkSession.active().udf.register(udf_name, F.pandas_udf(fn, T.BooleanType()))
        rules.append(
            CompiledRule(path, f"vcheck:{name}", _null_gate(col, f"NOT {udf_name}({col})"), col)
        )

    # --- combinators: anyof / oneof / allof / noneof -----------------
    for comb in ("anyof", "oneof", "allof", "noneof"):
        if comb not in fr:
            continue
        alts = fr[comb]
        if not isinstance(alts, (list, tuple)) or not alts:
            raise SchemaError(f"{comb} for field {path!r} must be a non-empty list")
        n_ok = " + ".join(
            f"CAST({_alternative_ok(col, alt, length_fn)} AS INT)" for alt in alts
        )
        want_ok = {"anyof": "= 0", "oneof": "!= 1", "allof": f"!= {len(alts)}", "noneof": "!= 0"}
        rules.append(CompiledRule(path, comb, _null_gate(col, f"(({n_ok}) {want_ok[comb]})"), col))

    # --- nested: schema over struct/map subfields --------------------
    if "schema" in fr:
        sub_schema = fr["schema"]
        if not isinstance(sub_schema, dict):
            raise SchemaError(f"schema for field {path!r} must be a dict")
        if dtype is not None and not isinstance(dtype, (T.StructType, T.MapType)):
            schema_errors.append(
                f"field {path!r}: schema rule needs struct/map, "
                f"input has {dtype.simpleString()}"
            )
        else:
            for sub, sfr in sub_schema.items():
                subcol, sub_dtype, known = _resolve_sub(col, dtype, sub)
                if not known:
                    schema_errors.append(
                        f"field {path + '.' + sub!r} not present in input schema"
                    )
                    continue
                _compile_field(
                    f"{path}.{sub}", subcol, sfr, sub_dtype,
                    rules, schema_errors, parent=(col, dtype),
                )

    # --- nested: items over array elements ---------------------------
    if "items" in fr:
        ifr = fr["items"]
        if not isinstance(ifr, dict):
            raise SchemaError(f"items for field {path!r} must be a dict")
        if dtype is not None and not isinstance(dtype, T.ArrayType):
            schema_errors.append(
                f"field {path!r}: items rule needs list, "
                f"input has {dtype.simpleString()}"
            )
        else:
            _compile_items(path, col, ifr, dtype, rules, schema_errors)


def _resolve_sub(
    parent_col: str, parent_dtype: T.DataType | None, sub: str
) -> tuple[str, T.DataType | None, bool]:
    """Resolve a subfield access: struct fields are compile-time
    checked; map keys are dynamic (absent key -> NULL, so `required`
    doubles as key-presence); unknown parent type assumes struct."""
    if isinstance(parent_dtype, T.StructType):
        if sub in parent_dtype.fieldNames():
            return f"{parent_col}.{ident(sub)}", parent_dtype[sub].dataType, True
        return parent_col, None, False
    if isinstance(parent_dtype, T.MapType):
        return f"{parent_col}[{sql_literal(sub)}]", parent_dtype.valueType, True
    return f"{parent_col}.{ident(sub)}", None, True


def _compile_items(
    path: str,
    col: str,
    ifr: dict[str, Any],
    dtype: T.DataType | None,
    rules: list[CompiledRule],
    schema_errors: list[str],
) -> None:
    """Element rules via ``exists`` — a row violates "items.<rule>" when
    ANY element violates it; no explode, no shuffle.  NULL elements
    skip value rules (same null-gate discipline as fields)."""
    elem_dtype = dtype.elementType if isinstance(dtype, T.ArrayType) else None
    unknown = set(ifr) - (VALUE_RULES | {"schema"})
    if unknown:
        raise SchemaError(
            f"rule(s) {sorted(unknown)} not allowed inside items for {path!r}"
        )
    elem_len = _length_fn(elem_dtype, None)

    def exists_rule(rule: str, pred: str) -> CompiledRule:
        # NULL element -> NULL pred; exists treats it as not-a-match
        return CompiledRule(path, rule, _null_gate(col, f"exists({col}, {_ELEM} -> {pred})"), col)

    for rname, rval in _iter_value_rules(ifr):
        rules.append(exists_rule(f"items.{rname}", _value_pred(_ELEM, rname, rval, elem_len)))

    if "schema" in ifr:
        # arrays of structs: per-element subfield rules
        sub_schema = ifr["schema"]
        if not isinstance(sub_schema, dict):
            raise SchemaError(f"items.schema for field {path!r} must be a dict")
        for sub, sfr in sub_schema.items():
            if not isinstance(sfr, dict):
                raise SchemaError(f"rules for {path}.items.{sub!r} must be a dict")
            bad = set(sfr) - (VALUE_RULES | {"required"})
            if bad:
                raise SchemaError(
                    f"rule(s) {sorted(bad)} not allowed inside items.schema"
                )
            sub_dtype = None
            if isinstance(elem_dtype, T.StructType):
                if sub not in elem_dtype.fieldNames():
                    schema_errors.append(
                        f"field {path + '.items.' + sub!r} not present in input schema"
                    )
                    continue
                sub_dtype = elem_dtype[sub].dataType
            sub_len = _length_fn(sub_dtype, sfr.get("type"))
            sc = f"{_ELEM}.{ident(sub)}"
            if sfr.get("required", False):
                rules.append(
                    exists_rule(f"items.{sub}.required", f"({_ELEM} IS NOT NULL AND {sc} IS NULL)")
                )
            for rname, rval in _iter_value_rules(sfr):
                rules.append(
                    exists_rule(
                        f"items.{sub}.{rname}",
                        f"({sc} IS NOT NULL AND {_value_pred(sc, rname, rval, sub_len)})",
                    )
                )


def apply_validator_flags(
    schema: dict[str, dict[str, Any]],
    update: bool = False,
    require_all: bool = False,
) -> dict[str, dict[str, Any]]:
    """Cerberus ``Validator`` flags expressed as a schema rewrite, so
    the Spark compiler AND the python twin transform identically:

    - ``require_all=True`` — fields without an explicit ``required``
      entry become ``required: True`` (Validator(require_all=True));
    - ``update=True`` — ``required`` rules are dropped entirely
      (validate(..., update=True): partial documents are legal; wins
      over require_all, as in Cerberus).
    """
    if not (update or require_all):
        return schema
    out: dict[str, dict[str, Any]] = {}
    for fname, fr in schema.items():
        if not isinstance(fr, dict):
            out[fname] = fr  # preserved for the compiler's error path
            continue
        fr2 = dict(fr)
        if require_all:
            fr2.setdefault("required", True)
        if update:
            fr2.pop("required", None)
        out[fname] = fr2
    return out


def compile_schema(
    schema: dict[str, dict[str, Any]],
    df_schema: T.StructType | None = None,
    update: bool = False,
    require_all: bool = False,
) -> CompiledRuleSet:
    """Compile a rule dict into violation predicates.

    ``df_schema`` enables compile-time checks: unknown fields and
    ``type`` mismatches become schema errors rather than per-row work.
    ``update``/``require_all`` are the Cerberus Validator flags
    (see :func:`apply_validator_flags`).
    """
    schema = apply_validator_flags(schema, update=update, require_all=require_all)
    rules: list[CompiledRule] = []
    schema_errors: list[str] = []
    fields_by_name = {f.name: f for f in df_schema.fields} if df_schema else {}

    for fname, fr in schema.items():
        if not isinstance(fr, dict):
            raise SchemaError(f"rules for field {fname!r} must be a dict")
        if df_schema is not None and fname not in fields_by_name:
            schema_errors.append(f"field {fname!r} not present in input schema")
            continue
        dtype = fields_by_name[fname].dataType if df_schema is not None else None
        _compile_field(fname, ident(fname), fr, dtype, rules, schema_errors)

    return CompiledRuleSet(rules=rules, schema_errors=schema_errors)
