"""Rule-dict -> Catalyst predicate compiler.

The reference classifies every event through hand-written per-row rule
cascades (reference: internal/monitor/monitor.go:80-188 — allowed port
sets, bitmask tests, value equality, enum dispatch, prefix matching,
byte-range predicates).  We generalize those shapes into a declarative,
Cerberus-style rule vocabulary and compile each rule ONCE on the driver
into a Spark ``Column`` predicate, evaluated columnarly for every row —
no per-row Python, no shuffle.  ``CompiledRuleSet.any_violated`` ORs
the predicates into one plain boolean that stays inside whole-stage
codegen; the per-rule violation structs are built only for the rows it
flags.

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
    custom:       callable(Column) -> Column returning True when VALID
                  (escape hatch; still a Catalyst expression)
    vcheck:       name of a registered Arrow-vectorized checker
                  (pandas_udf; the designated slow path for semantics
                  Catalyst can't express)
    schema:       nested field rules for dict (struct/map) fields —
                  compiled to ``col.getField(sub)`` / ``col.getItem``
                  predicates, violations reported as "parent.sub"; the
                  reference's analog is composed kernel pre-classifiers
                  checking port AND payload-content predicates on one
                  packet (ebpf/cerberus_tc.c:90-122).  Recurses: a
                  subfield may itself carry schema/items/anyof.
    items:        element rules for list fields, evaluated via
                  ``F.exists`` (a row violates "items.<rule>" when ANY
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
                  (``F.array_except`` against the literal set)
    excludes:     this field may be non-null only when every named
                  sibling field is null (mutual exclusion — the
                  cross-field inverse of ``dependencies``)
    keysrules / valuesrules:
                  value rules applied to every key / value of a dict
                  (map) field via ``F.exists`` over ``map_keys`` /
                  ``map_values`` — violations "keysrules.<rule>" /
                  "valuesrules.<rule>", no explode, no shuffle.

Violation output is normalized rows ``(…keys, field, rule, value)`` —
the engine's analog of the reference's CommunicationPattern finding rows
(internal/models/types.go:97-108).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field as dc_field
from functools import reduce
from operator import or_
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column
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
# compiled form
# ---------------------------------------------------------------------------

@dataclass
class CompiledRule:
    field: str
    rule: str
    violated: Column  # boolean Column: True when the row VIOLATES the rule
    value_col: Column | None = None  # reported value; defaults to col(field)


@dataclass
class CompiledRuleSet:
    rules: list[CompiledRule]
    schema_errors: list[str] = dc_field(default_factory=list)

    def violation_structs(self) -> list[Column]:
        """One nullable struct<field,rule,value> per compiled rule."""
        out = []
        for r in self.rules:
            vcol = r.value_col if r.value_col is not None else F.col(r.field)
            out.append(
                F.when(
                    r.violated,
                    F.struct(
                        F.lit(r.field).alias("field"),
                        F.lit(r.rule).alias("rule"),
                        vcol.cast("string").alias("value"),
                    ),
                )
            )
        return out

    def any_violated(self) -> Column:
        """Plain boolean: the row violates at least one rule.  A NULL
        predicate counts as not violated, as in
        :meth:`violation_structs`.  Cheap to evaluate on every row, so
        callers filter on it before building the struct array."""
        if not self.rules:
            return F.lit(False)
        return F.coalesce(reduce(or_, (r.violated for r in self.rules)), F.lit(False))


def _null_gate(col: Column, pred: Column) -> Column:
    """Value rules only fire on non-null values (null-ness has its own
    rules); mirrors the reference's bounds-check-before-read discipline
    (ebpf/cerberus_tc.c:129-139)."""
    return col.isNotNull() & pred


def _length_fn(dtype: T.DataType | None, want: str | None):
    """strings/binary use F.length; arrays/maps use F.size (F.length on
    an ArrayType raises AnalysisException at plan time).  Decide from
    the actual type when known, else from the declared logical type."""
    if dtype is not None:
        return F.size if isinstance(dtype, (T.ArrayType, T.MapType)) else F.length
    return F.size if want in ("list", "dict") else F.length


def _value_pred(col: Column, rname: str, rval: Any, length_fn) -> Column:
    """Raw (un-null-gated) violation predicate for one value rule
    evaluated against an arbitrary Column expression — shared by
    top-level fields, nested schema paths, array elements (inside
    F.exists lambdas) and anyof/oneof alternatives."""
    if rname == "allowed":
        return ~col.isin(list(rval))
    if rname == "forbidden":
        return col.isin(list(rval))
    if rname == "contains":
        # Cerberus semantics: the collection must contain ALL the given
        # values (scalar rval = one required member); array columns only
        req = rval if isinstance(rval, (list, tuple, set)) else [rval]
        return F.size(F.array_except(F.array(*[F.lit(x) for x in req]), col)) > 0
    if rname == "min":
        return col < F.lit(rval)
    if rname == "max":
        return col > F.lit(rval)
    if rname == "minlength":
        return length_fn(col) < int(rval)
    if rname == "maxlength":
        return length_fn(col) > int(rval)
    if rname == "regex":
        # Cerberus semantics: the WHOLE value must match (re.fullmatch
        # in the python twin).  Anchor with a non-capturing group:
        # "^" + "cat|dog" + "$" would parse as (^cat)|(dog$) because
        # alternation binds looser than the anchors.
        return ~col.rlike(f"^(?:{rval})$")
    if rname == "empty":
        # only `empty: False` compiles to a rule; uses length_fn so it
        # works on arrays/maps too (not just strings)
        return length_fn(col) == 0
    if rname == "custom":
        return ~rval(col)
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


def _alternative_ok(col: Column, alt: dict[str, Any], length_fn) -> Column:
    """True when ``col`` (non-null) fully satisfies one anyof/oneof
    alternative."""
    if not isinstance(alt, dict) or not alt:
        raise SchemaError("anyof/oneof alternatives must be non-empty dicts")
    unknown = set(alt) - VALUE_RULES
    if unknown:
        raise SchemaError(
            f"rule(s) {sorted(unknown)} not allowed inside anyof/oneof"
        )
    ok = F.lit(True)
    for rname, rval in _iter_value_rules(alt):
        ok = ok & ~F.coalesce(_value_pred(col, rname, rval, length_fn), F.lit(False))
    return ok


def _compile_field(
    path: str,
    col: Column,
    fr: dict[str, Any],
    dtype: T.DataType | None,
    have_schema: bool,
    rules: list[CompiledRule],
    schema_errors: list[str],
    parent: tuple[Column, T.DataType | None] | None = None,
) -> None:
    """Compile one field's rules (recursing into schema/items/anyof).

    ``parent`` is (parent_col, parent_dtype) for nested paths — nested
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
        col.isNull() if parent is None else parent[0].isNotNull() & col.isNull()
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
            if parent is None:
                dcol = F.col(dfield)
            else:  # sibling subfield of the same struct/map parent
                dcol, _, known = _resolve_sub(parent[0], parent[1], dfield)
                if not known:
                    schema_errors.append(
                        f"field {path!r}: dependency {dfield!r} not in parent schema"
                    )
                    continue
            if dval is None:
                conds.append(dcol.isNotNull())
            elif isinstance(dval, (list, tuple, set)):
                # coalesce(False): a NULL dependency column must mean
                # NOT-met (three-valued logic would otherwise turn the
                # whole predicate NULL and swallow the violation)
                conds.append(F.coalesce(dcol.isin(list(dval)), F.lit(False)))
            else:
                conds.append(F.coalesce(dcol == F.lit(dval), F.lit(False)))
        if conds:
            deps_met = conds[0]
            for c in conds[1:]:
                deps_met = deps_met & c
            # field may only be non-null when all dependencies hold
            rules.append(CompiledRule(path, "dependencies", col.isNotNull() & ~deps_met, col))

    if "excludes" in fr:
        # mutual exclusion: this field may only be non-null when every
        # excluded sibling is null (Cerberus `excludes`)
        exc = fr["excludes"]
        if isinstance(exc, str):
            exc = [exc]
        present = None
        for efield in exc:
            if parent is None:
                ecol = F.col(efield)
            else:
                ecol, _, known = _resolve_sub(parent[0], parent[1], efield)
                if not known:
                    schema_errors.append(
                        f"field {path!r}: excludes {efield!r} not in parent schema"
                    )
                    continue
            t = ecol.isNotNull()
            present = t if present is None else present | t
        if present is not None:
            rules.append(CompiledRule(path, "excludes", col.isNotNull() & present, col))

    # --- map-element rules: keysrules / valuesrules ------------------
    for mrule, getter, side in (
        ("keysrules", F.map_keys, "key"),
        ("valuesrules", F.map_values, "value"),
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
        arr = getter(col)

        def map_rule_factory(rname, rval, lf):
            # NULL map value -> NULL pred; F.exists skips it (keys are
            # never null) — same null-gate discipline as items
            return lambda e: _value_pred(e, rname, rval, lf)

        for rname, rval in _iter_value_rules(mfr):
            rules.append(
                CompiledRule(
                    path,
                    f"{mrule}.{rname}",
                    _null_gate(col, F.exists(arr, map_rule_factory(rname, rval, elem_len))),
                    col,
                )
            )

    if "vcheck" in fr:
        name = fr["vcheck"]
        fn = VCHECKS.get(name)
        if fn is None:
            raise SchemaError(f"unknown vcheck {name!r} for field {path!r}")
        checker = F.pandas_udf(fn, T.BooleanType())
        rules.append(
            CompiledRule(path, f"vcheck:{name}", _null_gate(col, ~checker(col)), col)
        )

    # --- combinators: anyof / oneof / allof / noneof -----------------
    for comb in ("anyof", "oneof", "allof", "noneof"):
        if comb not in fr:
            continue
        alts = fr[comb]
        if not isinstance(alts, (list, tuple)) or not alts:
            raise SchemaError(f"{comb} for field {path!r} must be a non-empty list")
        oks = [_alternative_ok(col, alt, length_fn) for alt in alts]
        n_ok = oks[0].cast("int")
        for o in oks[1:]:
            n_ok = n_ok + o.cast("int")
        violated = {
            "anyof": n_ok == F.lit(0),
            "oneof": n_ok != F.lit(1),
            "allof": n_ok != F.lit(len(oks)),
            "noneof": n_ok != F.lit(0),
        }[comb]
        rules.append(CompiledRule(path, comb, _null_gate(col, violated), col))

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
                    f"{path}.{sub}", subcol, sfr, sub_dtype, have_schema,
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
    parent_col: Column, parent_dtype: T.DataType | None, sub: str
) -> tuple[Column, T.DataType | None, bool]:
    """Resolve a subfield access: struct fields are compile-time
    checked; map keys are dynamic (absent key -> NULL, so `required`
    doubles as key-presence); unknown parent type assumes struct."""
    if isinstance(parent_dtype, T.StructType):
        if sub in parent_dtype.fieldNames():
            return parent_col.getField(sub), parent_dtype[sub].dataType, True
        return parent_col, None, False
    if isinstance(parent_dtype, T.MapType):
        return parent_col.getItem(sub), parent_dtype.valueType, True
    return parent_col.getField(sub), None, True


def _compile_items(
    path: str,
    col: Column,
    ifr: dict[str, Any],
    dtype: T.DataType | None,
    rules: list[CompiledRule],
    schema_errors: list[str],
) -> None:
    """Element rules via F.exists — a row violates "items.<rule>" when
    ANY element violates it; no explode, no shuffle.  NULL elements
    skip value rules (same null-gate discipline as fields)."""
    elem_dtype = dtype.elementType if isinstance(dtype, T.ArrayType) else None
    unknown = set(ifr) - (VALUE_RULES | {"schema"})
    if unknown:
        raise SchemaError(
            f"rule(s) {sorted(unknown)} not allowed inside items for {path!r}"
        )
    elem_len = _length_fn(elem_dtype, None)

    def exists_pred(make):
        # NULL element -> NULL pred; exists treats it as not-a-match
        return _null_gate(col, F.exists(col, make))

    # factories, not default-arg lambdas: F.exists inspects the
    # callable's arity and would pass the element INDEX into a second
    # (defaulted) parameter
    def value_rule_factory(rname, rval):
        return lambda e: _value_pred(e, rname, rval, elem_len)

    for rname, rval in _iter_value_rules(ifr):
        rules.append(
            CompiledRule(
                path, f"items.{rname}", exists_pred(value_rule_factory(rname, rval)), col
            )
        )

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

            def req_factory(s):
                return lambda e: e.isNotNull() & e.getField(s).isNull()

            def sub_rule_factory(s, rname, rval, lf):
                def make(e):
                    sc = e.getField(s)
                    return sc.isNotNull() & _value_pred(sc, rname, rval, lf)
                return make

            if sfr.get("required", False):
                rules.append(
                    CompiledRule(
                        path, f"items.{sub}.required", exists_pred(req_factory(sub)), col
                    )
                )
            for rname, rval in _iter_value_rules(sfr):
                rules.append(
                    CompiledRule(
                        path,
                        f"items.{sub}.{rname}",
                        exists_pred(sub_rule_factory(sub, rname, rval, sub_len)),
                        col,
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
        _compile_field(
            fname, F.col(fname), fr, dtype, df_schema is not None,
            rules, schema_errors,
        )

    return CompiledRuleSet(rules=rules, schema_errors=schema_errors)


# ---------------------------------------------------------------------------
# Pure-Python reference validator — the pytest oracle.
# Implements the SAME semantics row-at-a-time; Spark results must agree
# per-turn under stable (conv_id, turn_idx) ordering.
# ---------------------------------------------------------------------------

def _py_value_violations(v: Any, fr: dict[str, Any]) -> list[str]:
    """Violated value-rule names for one non-null python value (the
    twin of :func:`_value_pred` + :func:`_iter_value_rules` order)."""
    out: list[str] = []
    if "allowed" in fr and v not in fr["allowed"]:
        out.append("allowed")
    if "forbidden" in fr and v in fr["forbidden"]:
        out.append("forbidden")
    if "contains" in fr:
        req = fr["contains"]
        if not isinstance(req, (list, tuple, set)):
            req = [req]
        if any(x not in v for x in req):
            out.append("contains")
    if "min" in fr and v < fr["min"]:
        out.append("min")
    if "max" in fr and v > fr["max"]:
        out.append("max")
    if "minlength" in fr and len(v) < fr["minlength"]:
        out.append("minlength")
    if "maxlength" in fr and len(v) > fr["maxlength"]:
        out.append("maxlength")
    if "regex" in fr and not re.fullmatch(fr["regex"], v):
        out.append("regex")
    if fr.get("empty", True) is False and hasattr(v, "__len__") and len(v) == 0:
        out.append("empty")
    return out


def python_validate(
    row: dict[str, Any],
    schema: dict[str, dict[str, Any]],
    _prefix: str = "",
    _parent: dict[str, Any] | None = None,
) -> list[tuple[str, str, Any]]:
    """Return [(field, rule, value), ...] violations for one row.

    ``_prefix``/``_parent`` carry nested-schema recursion state: field
    names become dotted paths and dependencies resolve against the
    enclosing dict.
    """
    out: list[tuple[str, str, Any]] = []
    scope = row if _parent is None else _parent

    for fname, fr in schema.items():
        v = row.get(fname)
        path = _prefix + fname
        if fr.get("required", False):
            if v is None:
                out.append((path, "required", v))
        elif fr.get("nullable", True) is False:
            if v is None:
                out.append((path, "nullable", v))
        if v is not None:
            for rname in _py_value_violations(v, fr):
                out.append((path, rname, v))
            if "dependencies" in fr:
                dep = fr["dependencies"]
                if isinstance(dep, str):
                    dep = {dep: None}
                elif isinstance(dep, (list, tuple)):
                    dep = {d: None for d in dep}
                met = True
                for dfield, dval in dep.items():
                    dv = scope.get(dfield)
                    if dval is None:
                        met = met and dv is not None
                    elif isinstance(dval, (list, tuple, set)):
                        met = met and dv in dval
                    else:
                        met = met and dv == dval
                if not met:
                    out.append((path, "dependencies", v))
            if "custom" in fr:
                # python twin expects a plain predicate here
                if not fr["custom"](v):
                    out.append((path, "custom", v))
            if "vcheck" in fr:
                fn = VCHECKS[fr["vcheck"]]
                ok = bool(fn(pd.Series([v])).iloc[0])
                if not ok:
                    out.append((path, f"vcheck:{fr['vcheck']}", v))
            if "excludes" in fr:
                exc = fr["excludes"]
                if isinstance(exc, str):
                    exc = [exc]
                if any(scope.get(e) is not None for e in exc):
                    out.append((path, "excludes", v))
            if isinstance(v, dict):
                for mrule, elems in (
                    ("keysrules", list(v.keys())),
                    ("valuesrules", list(v.values())),
                ):
                    if mrule not in fr:
                        continue
                    seen_m: list[str] = []
                    for e in elems:
                        if e is None:
                            continue
                        for rname in _py_value_violations(e, fr[mrule]):
                            if rname not in seen_m:
                                seen_m.append(rname)
                    for rname in seen_m:
                        out.append((path, f"{mrule}.{rname}", v))
            for comb in ("anyof", "oneof", "allof", "noneof"):
                if comb in fr:
                    n_ok = sum(
                        1 for alt in fr[comb] if not _py_value_violations(v, alt)
                    )
                    hit = {
                        "anyof": n_ok == 0,
                        "oneof": n_ok != 1,
                        "allof": n_ok != len(fr[comb]),
                        "noneof": n_ok != 0,
                    }[comb]
                    if hit:
                        out.append((path, comb, v))
            if "schema" in fr and isinstance(v, dict):
                out.extend(
                    python_validate(v, fr["schema"], _prefix=path + ".", _parent=v)
                )
            if "items" in fr and isinstance(v, list):
                ifr = fr["items"]
                seen: list[str] = []
                for e in v:
                    if e is None:
                        continue
                    if isinstance(e, dict):
                        continue  # struct elements handled below
                    for rname in _py_value_violations(e, ifr):
                        if f"items.{rname}" not in seen:
                            seen.append(f"items.{rname}")
                if "schema" in ifr:
                    for sub, sfr in ifr["schema"].items():
                        for e in v:
                            if not isinstance(e, dict):
                                continue
                            sv = e.get(sub)
                            if sfr.get("required", False) and sv is None:
                                if f"items.{sub}.required" not in seen:
                                    seen.append(f"items.{sub}.required")
                            if sv is not None:
                                for rname in _py_value_violations(sv, sfr):
                                    if f"items.{sub}.{rname}" not in seen:
                                        seen.append(f"items.{sub}.{rname}")
                for rule in seen:
                    out.append((path, rule, v))
    return out
