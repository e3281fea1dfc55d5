"""Pure-Python reference validator — the pytest oracle for
``cerberus_spark.rules``.  Implements the SAME semantics as the
compiled rule set, row at a time; Spark results must agree per row
under a stable key order."""

from __future__ import annotations

import re
from typing import Any

import pandas as pd

from cerberus_spark.rules import VCHECKS


def _py_value_violations(v: Any, fr: dict[str, Any]) -> list[str]:
    """Violated value-rule names for one non-null python value (the
    twin of ``rules._value_pred`` in ``rules._iter_value_rules``
    order)."""
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
