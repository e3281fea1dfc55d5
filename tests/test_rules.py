"""Unit tests per rule op: compiled Spark predicates vs the pure-Python
reference validator on the same rows (SURVEY.md §5.1)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cerberus_spark.rules import SchemaError, compile_schema, sql_literal
from cerberus_spark.validation import validate
from python_validate import python_validate

ROWS = [
    # (conv_id, turn_idx, role, text, tool, score)
    ("c1", 0, "system", "hello world", None, 1.0),
    ("c1", 1, "user", "question?", None, 2.5),
    ("c1", 2, "assistant", "answer", None, 3.0),
    ("c1", 3, "tool", "result", "search", 0.5),
    ("c2", 0, "critic", "bad role", None, -1.0),       # allowed violation
    ("c2", 1, "user", None, None, 99.0),               # required violation (+max)
    ("c2", 2, "assistant", "", None, 5.0),             # empty violation
    ("c2", 3, "user", "x" * 50, "search", 1.0),        # deps violation (tool w/o role=tool)
    ("c2", 4, "tool", "ok", "ghost", 1.0),             # (referential is separate)
    ("c3", 0, "system", "UPPER lower 123", None, 50.0),
]
SCHEMA_DDL = "conv_id string, turn_idx int, role string, text string, tool string, score double"

RULES = {
    "role": {"type": "string", "required": True, "allowed": ["system", "user", "assistant", "tool"]},
    "turn_idx": {"type": "integer", "min": 0, "max": 1000},
    "text": {"type": "string", "required": True, "empty": False, "maxlength": 40},
    "tool": {"type": "string", "nullable": True, "dependencies": {"role": "tool"}},
    "score": {"type": "number", "min": 0.0, "max": 50.0},
}


def as_dicts():
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "score"]
    return [dict(zip(cols, r)) for r in ROWS]


def spark_violations(spark, rules):
    df = spark.createDataFrame(ROWS, schema=SCHEMA_DDL)
    res = validate(df, rules, key_cols=["conv_id", "turn_idx"])
    return sorted(
        (r.conv_id, r.turn_idx, r.field, r.rule)
        for r in res.violations().collect()
    )


def python_violations(rules):
    out = []
    for row in as_dicts():
        for f, rule, _ in python_validate(row, rules):
            out.append((row["conv_id"], row["turn_idx"], f, rule))
    return sorted(out)


def test_full_ruleset_parity(spark):
    assert spark_violations(spark, RULES) == python_violations(RULES)


def test_regex_alternation_is_fully_anchored(spark):
    """'cat|dog' must full-match like re.fullmatch: '^'+pat+'$' would
    parse as (^cat)|(dog$) and wrongly accept 'category'/'hotdog'."""
    rows = [(0, "cat"), (1, "dog"), (2, "category"), (3, "hotdog"), (4, "catalog"), (5, None)]
    df = spark.createDataFrame(rows, "id int, v string")
    rules = {"v": {"type": "string", "regex": "cat|dog"}}
    res = validate(df, rules, key_cols=["id"])
    bad = sorted(r.value for r in res.violations().collect())
    assert bad == ["catalog", "category", "hotdog"]
    # parity with the python twin (re.fullmatch)
    twin = sorted(
        row["v"]
        for row in [dict(id=i, v=x) for i, x in rows]
        for _f, _rule, _v in python_validate(row, rules)
    )
    assert twin == bad


def test_length_rules_on_list_fields(spark):
    """minlength/maxlength compile to F.size for array columns (F.length
    is string-only and raises at plan time)."""
    rows = [(0, []), (1, ["a"]), (2, ["a", "b", "c", "d"]), (3, None)]
    df = spark.createDataFrame(rows, "id int, tags array<string>")
    rules = {"tags": {"type": "list", "minlength": 1, "maxlength": 3}}
    res = validate(df, rules, key_cols=["id"])
    got = sorted((r.id, r.rule) for r in res.violations().collect())
    assert got == [(0, "minlength"), (2, "maxlength")]
    twin = sorted(
        (row["id"], rule)
        for row in [dict(id=i, tags=t) for i, t in rows]
        for f, rule, _ in python_validate(row, rules)
    )
    assert twin == got


@pytest.mark.parametrize(
    "rules",
    [
        {"role": {"allowed": ["system", "user"]}},
        {"role": {"forbidden": ["critic"]}},
        {"score": {"min": 1.0}},
        {"score": {"max": 2.5}},
        {"text": {"minlength": 8}},
        {"text": {"maxlength": 8}},
        {"text": {"regex": "[a-z ?]*"}},
        {"text": {"required": True}},
        {"tool": {"nullable": False}},
        {"text": {"empty": False}},
        {"tool": {"dependencies": {"role": "tool"}}},
        {"tool": {"dependencies": {"role": ["tool", "assistant"]}}},
        {"tool": {"dependencies": "text"}},
    ],
)
def test_single_rule_parity(spark, rules):
    assert spark_violations(spark, rules) == python_violations(rules)


def test_each_rule_fires(spark):
    got = spark_violations(spark, RULES)
    fired = {(f, r) for (_, _, f, r) in got}
    assert ("role", "allowed") in fired
    assert ("text", "required") in fired
    assert ("text", "empty") in fired
    assert ("text", "maxlength") in fired
    assert ("tool", "dependencies") in fired
    assert ("score", "min") in fired
    assert ("score", "max") in fired


def test_null_gating(spark):
    # null text must NOT fire value rules (maxlength/regex), only required
    got = spark_violations(spark, {"text": {"required": True, "maxlength": 5, "regex": "x+"}})
    null_row = [(c, t, f, r) for (c, t, f, r) in got if (c, t) == ("c2", 1)]
    assert null_row == [("c2", 1, "text", "required")]


def test_custom_rule(spark):
    rules = {"text": {"custom": "v -> length(v) % 2 = 0"}}
    got = spark_violations(spark, rules)
    for row in as_dicts():
        expected_violated = row["text"] is not None and len(row["text"]) % 2 == 1
        present = (row["conv_id"], row["turn_idx"], "text", "custom") in got
        assert present == expected_violated


#: scalars of every type the compiler renders as a SQL literal; the
#: strings lean on quotes, backslashes and regex metacharacters
LITERALS = st.one_of(
    st.text(),
    st.text(alphabet="'\\\"^$.*+?()[]{}|-é字😀 "),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(),
    st.booleans(),
    st.dates(),
    st.datetimes(),
    st.decimals(allow_nan=False, allow_infinity=False, places=6, min_value=-(10**20), max_value=10**20),
)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(LITERALS, min_size=1, max_size=12))
def test_sql_literal_round_trips(spark, values):
    """Every value :func:`sql_literal` renders selects back equal, and
    of the same Python type."""
    got = spark.range(1).selectExpr(*[f"{sql_literal(v)} AS c{i}" for i, v in enumerate(values)])
    for v, g in zip(values, got.collect()[0]):
        assert type(g) is type(v), (v, g)
        assert g == v or (isinstance(v, float) and math.isnan(v) and math.isnan(g)), (v, g)


def test_vcheck_json(spark):
    rows = [("a", '{"k": 1}'), ("b", "not json"), ("c", "[1,2]"), ("d", None)]
    df = spark.createDataFrame(rows, "id string, payload string")
    res = validate(df, {"payload": {"vcheck": "json_object"}}, key_cols=["id"])
    bad = {r.id for r in res.violations().collect()}
    assert bad == {"b", "c"}


def test_type_mismatch_is_schema_error(spark):
    df = spark.createDataFrame([("x", 1)], "a string, b int")
    res = validate(df, {"a": {"type": "integer"}, "b": {"type": "integer", "min": 0}})
    assert len(res.schema_errors) == 1
    assert "a" in res.schema_errors[0]


def test_unknown_field_is_schema_error(spark):
    df = spark.createDataFrame([("x",)], "a string")
    res = validate(df, {"zzz": {"required": True}})
    assert res.schema_errors and "zzz" in res.schema_errors[0]


def test_unknown_rule_raises():
    with pytest.raises(SchemaError):
        compile_schema({"a": {"nope": 1}})


def test_unknown_type_raises():
    with pytest.raises(SchemaError):
        compile_schema({"a": {"type": "quux"}})


# ---------------------------------------------------------------------------
# nested vocabulary: schema / items / anyof / oneof
# ---------------------------------------------------------------------------

NESTED_DDL = (
    "id int, props struct<tool_name:string,n_calls:int,args:map<string,string>>, "
    "tags array<string>, turns array<struct<role:string,n:int>>, x int"
)
NESTED_ROWS = [
    # id, props(tool_name, n_calls, args), tags, turns, x
    (0, ("search", 2, {"q": "a"}), ["ok", "good"], [("user", 1)], 5),
    (1, (None, -1, {}), ["toolong-tag"], [("critic", -3)], 40),   # nested violations
    (2, None, [], [], -2),                                        # null parent: no nested rules fire
    (3, ("bash!", 7, None), None, None, 11),
]
NESTED_RULES = {
    "props": {
        "type": "dict",
        "schema": {
            "tool_name": {"required": True, "regex": "[a-z_]+"},
            "n_calls": {"min": 0, "max": 5},
        },
    },
    "tags": {"type": "list", "items": {"maxlength": 8}},
    "turns": {
        "type": "list",
        "items": {
            "schema": {
                "role": {"required": True, "allowed": ["user", "assistant"]},
                "n": {"min": 0},
            }
        },
    },
    "x": {"anyof": [{"min": 0, "max": 10}, {"allowed": [40]}]},
}


def _nested_dicts():
    out = []
    for rid, props, tags, turns, x in NESTED_ROWS:
        p = None if props is None else dict(zip(("tool_name", "n_calls", "args"), props))
        t = None if turns is None else [dict(zip(("role", "n"), e)) for e in turns]
        out.append({"id": rid, "props": p, "tags": tags, "turns": t, "x": x})
    return out


def test_nested_vocabulary_parity(spark):
    df = spark.createDataFrame(NESTED_ROWS, NESTED_DDL)
    res = validate(df, NESTED_RULES, key_cols=["id"])
    got = sorted((r.id, r.field, r.rule) for r in res.violations().collect())
    exp = sorted(
        (row["id"], f, rule)
        for row in _nested_dicts()
        for (f, rule, _v) in python_validate(row, NESTED_RULES)
    )
    assert got == exp
    fired = {(f, r) for (_i, f, r) in got}
    # every nested shape actually fires on this fixture
    assert ("props.tool_name", "required") in fired   # row 1
    assert ("props.tool_name", "regex") in fired      # row 3 ("bash!")
    assert ("props.n_calls", "min") in fired          # row 1
    assert ("props.n_calls", "max") in fired          # row 3
    assert ("tags", "items.maxlength") in fired       # row 1
    assert ("turns", "items.role.allowed") in fired   # row 1
    assert ("turns", "items.n.min") in fired          # row 1
    assert ("x", "anyof") in fired                    # row 2 (-2)
    # null parent: row 2 has NO nested violations
    assert not any(i == 2 and f.startswith("props.") for (i, f, _r) in got)


def test_nested_map_key_rules(spark):
    """schema over a map column: absent key -> NULL -> required fires."""
    df = spark.createDataFrame(
        [(0, {"lang": "en", "n": "3"}), (1, {"n": "9"}), (2, None)],
        "id int, meta map<string,string>",
    )
    rules = {"meta": {"schema": {"lang": {"required": True, "allowed": ["en", "fr"]}}}}
    res = validate(df, rules, key_cols=["id"])
    got = sorted((r.id, r.field, r.rule) for r in res.violations().collect())
    assert got == [(1, "meta.lang", "required")]


def test_oneof_exactly_one(spark):
    df = spark.createDataFrame([(0, 5), (1, 40), (2, 7), (3, -1), (4, None)], "id int, x int")
    # 5 matches both alternatives -> oneof violated; 7 matches only the
    # first; 40 only the second; -1 neither
    rules = {"x": {"oneof": [{"min": 0, "max": 10}, {"allowed": [5, 40]}]}}
    res = validate(df, rules, key_cols=["id"])
    got = sorted(r.id for r in res.violations().collect())
    assert got == [0, 3]
    twin = sorted(
        row["id"]
        for row in [{"id": i, "x": x} for i, x in [(0, 5), (1, 40), (2, 7), (3, -1), (4, None)]]
        for _ in python_validate(row, rules)
    )
    assert twin == got


def test_empty_false_on_list_uses_size(spark):
    """`empty: False` on an array field must compile to F.size (the old
    F.length raised AnalysisException at validate time)."""
    df = spark.createDataFrame([(0, []), (1, ["a"]), (2, None)], "id int, l array<string>")
    res = validate(df, {"l": {"type": "list", "empty": False}}, key_cols=["id"])
    got = [r.id for r in res.violations().collect()]
    assert got == [0]


def test_nested_dependencies_resolve_against_siblings(spark):
    """dependencies inside a nested schema reference sibling subfields."""
    df = spark.createDataFrame(
        [(0, ("tool", "search")), (1, ("user", "search")), (2, ("user", None))],
        "id int, p struct<role:string,tool:string>",
    )
    rules = {"p": {"schema": {"tool": {"dependencies": {"role": "tool"}}}}}
    res = validate(df, rules, key_cols=["id"])
    got = sorted((r.id, r.field, r.rule) for r in res.violations().collect())
    assert got == [(1, "p.tool", "dependencies")]


def test_nested_unknown_subfield_is_schema_error(spark):
    df = spark.createDataFrame([(0, ("a",))], "id int, p struct<k:string>")
    res = validate(df, {"p": {"schema": {"zzz": {"required": True}}}}, key_cols=["id"])
    assert res.schema_errors and "p.zzz" in res.schema_errors[0]


def test_vcheck_inside_items_raises():
    with pytest.raises(SchemaError):
        compile_schema({"l": {"items": {"vcheck": "printable"}}})


# ---------------------------------------------------------------------------
# extended Cerberus vocabulary: contains / excludes / keysrules /
# valuesrules / allof / noneof
# ---------------------------------------------------------------------------


def _twin_check(spark, rows, ddl, rules):
    """Spark violations ≡ python-twin violations on the same fixture."""
    df = spark.createDataFrame(rows, ddl)
    got = sorted(
        (r.id, r.field, r.rule)
        for r in validate(df, rules, key_cols=["id"]).violations().collect()
    )
    cols = [f.split(":")[0].strip() for f in ddl.split(",")]
    cols = [c.split(" ")[0] for c in cols]
    twin = sorted(
        (row[0], f, rule)
        for row in rows
        for f, rule, _ in python_validate(dict(zip(cols, row)), rules)
    )
    assert got == twin, (got, twin)
    return got


def test_contains_rule_on_arrays(spark):
    rows = [
        (0, ["system", "user", "assistant"]),
        (1, ["user", "assistant"]),          # missing system
        (2, ["system"]),                     # missing user
        (3, None),                           # null passes (null-gate)
        (4, []),
    ]
    got = _twin_check(
        spark, rows, "id int, roles array<string>",
        {"roles": {"type": "list", "contains": ["system", "user"]}},
    )
    assert got == [(1, "roles", "contains"), (2, "roles", "contains"),
                   (4, "roles", "contains")]


def test_excludes_rule_mutual_exclusion(spark):
    rows = [
        (0, "t1", None),   # ok: only tool set
        (1, None, "e1"),   # ok: only error set
        (2, "t2", "e2"),   # violation: both present
        (3, None, None),   # ok
    ]
    rules = {"tool": {"type": "string", "nullable": True, "excludes": "error"},
             "error": {"type": "string", "nullable": True}}
    got = _twin_check(spark, rows, "id int, tool string, error string", rules)
    assert got == [(2, "tool", "excludes")]


def test_keysrules_valuesrules_on_maps(spark):
    rows = [
        (0, {"temp": "0.7", "seed": "42"}),
        (1, {"Temp": "0.7"}),               # key violates regex
        (2, {"seed": ""}),                  # value violates empty
        (3, None),
        (4, {}),
    ]
    rules = {
        "params": {
            "type": "dict",
            "keysrules": {"regex": "[a-z_]+"},
            "valuesrules": {"empty": False},
        }
    }
    got = _twin_check(spark, rows, "id int, params map<string,string>", rules)
    assert got == [(1, "params", "keysrules.regex"), (2, "params", "valuesrules.empty")]


def test_allof_noneof_combinators(spark):
    rows = [(0, 15), (1, 5), (2, 50), (3, None)]
    allof = {"v": {"type": "integer", "allof": [{"min": 10}, {"max": 20}]}}
    noneof = {"v": {"type": "integer", "noneof": [{"min": 100}, {"max": 9}]}}
    got_all = _twin_check(spark, rows, "id int, v int", allof)
    assert got_all == [(1, "v", "allof"), (2, "v", "allof")]
    got_none = _twin_check(spark, rows, "id int, v int", noneof)
    assert got_none == [(1, "v", "noneof")]


def test_extended_vocab_unknown_rules_still_rejected(spark):
    with pytest.raises(SchemaError):
        compile_schema({"x": {"keysrules": {"schema": {}}}})
    with pytest.raises(SchemaError):
        compile_schema({"x": {"allof": []}})


def test_validator_flags_update_and_require_all(spark):
    """Cerberus Validator flags: require_all makes unspecified fields
    required; update drops required entirely (and wins over
    require_all) — identically in the Spark compiler and the python
    twin, because both consume the same apply_validator_flags rewrite."""
    from cerberus_spark.rules import apply_validator_flags
    from cerberus_spark.validation import validate

    schema = {"a": {"type": "string"}, "b": {"type": "integer", "required": True}}
    df = spark.createDataFrame([(None, None)], "a string, b int")

    base = validate(df, schema, key_cols=[]).violations().collect()
    assert {(r.field, r.rule) for r in base} == {("b", "required")}

    ra = validate(df, schema, key_cols=[], require_all=True).violations().collect()
    assert {(r.field, r.rule) for r in ra} == {("a", "required"), ("b", "required")}

    up = validate(df, schema, key_cols=[], update=True, require_all=True)
    assert up.violations().count() == 0

    # twin parity through the same rewrite
    row = {"a": None, "b": None}
    assert [
        (f, r) for f, r, _ in python_validate(row, apply_validator_flags(schema, require_all=True))
    ] == [("a", "required"), ("b", "required")]
    assert (
        python_validate(row, apply_validator_flags(schema, update=True, require_all=True))
        == []
    )
