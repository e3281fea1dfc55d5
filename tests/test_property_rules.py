"""Property-based equivalence: compiled Catalyst predicates vs the
pure-Python reference validator on hypothesis-generated rule dicts and
rows.  One Spark round-trip per generated CASE (rows are batched into a
single DataFrame), so the search is wide without being slow.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cerberus_spark.validation import validate
from python_validate import python_validate

# --- strategies ------------------------------------------------------------

# "Xx" / "zY" are anchoring tripwires: under the buggy '^X|Y$' compile
# of the alternation pattern below they'd wrongly PASS (prefix/suffix
# match); re.fullmatch and the fixed ^(?:X|Y)$ reject them.
label_values = st.sampled_from(["alpha", "beta", "gamma", "", "delta-9", "X", "Xx", "zY"])
str_or_none = st.one_of(st.none(), label_values)
int_or_none = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))


@st.composite
def str_field_rules(draw):
    fr: dict = {"type": "string"}
    if draw(st.booleans()):
        fr["required"] = draw(st.booleans())
    elif draw(st.booleans()):
        fr["nullable"] = draw(st.booleans())
    if draw(st.booleans()):
        fr["allowed"] = draw(st.lists(label_values, min_size=1, max_size=4, unique=True))
    if draw(st.booleans()):
        fr["forbidden"] = draw(st.lists(label_values, min_size=1, max_size=2, unique=True))
    if draw(st.booleans()):
        fr["minlength"] = draw(st.integers(min_value=0, max_value=5))
    if draw(st.booleans()):
        fr["maxlength"] = draw(st.integers(min_value=0, max_value=8))
    if draw(st.booleans()):
        fr["regex"] = draw(st.sampled_from([r"[a-z]+", r"[a-z]+-[0-9]", r"...", r"X|Y"]))
    if draw(st.booleans()):
        fr["empty"] = False
    return fr


@st.composite
def int_field_rules(draw):
    fr: dict = {"type": "integer"}
    if draw(st.booleans()):
        fr["required"] = draw(st.booleans())
    if draw(st.booleans()):
        fr["min"] = draw(st.integers(min_value=-50, max_value=50))
    if draw(st.booleans()):
        fr["max"] = draw(st.integers(min_value=-50, max_value=50))
    return fr


@st.composite
def dep_rules(draw):
    """tool-style field whose presence depends on another column."""
    fr: dict = {"type": "string", "nullable": True}
    kind = draw(st.integers(min_value=0, max_value=2))
    if kind == 0:
        fr["dependencies"] = {"s": draw(label_values)}
    elif kind == 1:
        fr["dependencies"] = {"s": draw(st.lists(label_values, min_size=1, max_size=3, unique=True))}
    else:
        fr["dependencies"] = "s"
    return fr


@st.composite
def list_field_rules(draw):
    fr: dict = {"type": "list"}
    if draw(st.booleans()):
        fr["required"] = draw(st.booleans())
    if draw(st.booleans()):
        fr["minlength"] = draw(st.integers(min_value=0, max_value=3))
    if draw(st.booleans()):
        fr["maxlength"] = draw(st.integers(min_value=0, max_value=4))
    return fr


list_or_none = st.one_of(
    st.none(), st.lists(st.sampled_from(["a", "b"]), max_size=5)
)

rows_strategy = st.lists(
    st.fixed_dictionaries(
        {"s": str_or_none, "i": int_or_none, "t": str_or_none, "l": list_or_none}
    ),
    min_size=1,
    max_size=8,
)

schema_strategy = st.fixed_dictionaries(
    {
        "s": str_field_rules(),
        "i": int_field_rules(),
        "t": dep_rules(),
        "l": list_field_rules(),
    }
)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(schema=schema_strategy, rows=rows_strategy)
def test_compiled_rules_match_python_twin(_spark, schema, rows):
    spark = _spark
    data = [(idx, r["s"], r["i"], r["t"], r["l"]) for idx, r in enumerate(rows)]
    df = spark.createDataFrame(data, "rid int, s string, i int, t string, l array<string>")
    res = validate(df, schema, key_cols=["rid"])
    got = {
        (r["rid"], r["field"], r["rule"])
        for r in res.violations().collect()
    }
    exp = {
        (idx, f, rule)
        for idx, r in enumerate(rows)
        for (f, rule, _v) in python_validate(r, schema)
    }
    assert got == exp, f"schema={schema} rows={rows}"


# ---------------------------------------------------------------------------
# property: first-match-wins cascade == python loop over the same arms
# ---------------------------------------------------------------------------

arm_strategy = st.tuples(
    st.sampled_from(["lt", "ge", "eq", "in"]),
    st.integers(min_value=-20, max_value=20),
    st.sampled_from(["A", "B", "C", "D"]),
)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    arms=st.lists(arm_strategy, min_size=0, max_size=6),
    values=st.lists(st.one_of(st.none(), st.integers(-25, 25)), min_size=1, max_size=10),
)
def test_classifier_cascade_matches_python(_spark, arms, values):
    from cerberus_spark.operators.classify import Classifier

    spark = _spark
    c = Classifier("DEFAULT")
    for op, thr, label in arms:
        col = F.col("x")
        if op == "lt":
            c.when(col < thr, label)
        elif op == "ge":
            c.when(col >= thr, label)
        elif op == "eq":
            c.when(col == thr, label)
        else:
            c.when_in(col, [thr, thr + 1], label)

    def py_classify(x):
        if x is None:
            return "DEFAULT"  # SQL comparisons with NULL never match
        for op, thr, label in arms:
            if (
                (op == "lt" and x < thr)
                or (op == "ge" and x >= thr)
                or (op == "eq" and x == thr)
                or (op == "in" and x in (thr, thr + 1))
            ):
                return label
        return "DEFAULT"

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "rid int, x int")
    got = {r["rid"]: r["label"] for r in c.apply(df).collect()}
    exp = {i: py_classify(v) for i, v in enumerate(values)}
    assert got == exp, f"arms={arms} values={values}"


# ---------------------------------------------------------------------------
# property: nested vocabulary (schema / items / anyof) == python twin
# ---------------------------------------------------------------------------

@st.composite
def nested_struct_rules(draw):
    """Rules for p: struct<k:string, n:int> via the `schema` rule."""
    k_rules: dict = {}
    if draw(st.booleans()):
        k_rules["required"] = draw(st.booleans())
    if draw(st.booleans()):
        k_rules["allowed"] = draw(st.lists(label_values, min_size=1, max_size=3, unique=True))
    if draw(st.booleans()):
        k_rules["regex"] = draw(st.sampled_from([r"[a-z]+", r"X|Y"]))
    n_rules: dict = {}
    if draw(st.booleans()):
        n_rules["min"] = draw(st.integers(min_value=-50, max_value=50))
    if draw(st.booleans()):
        n_rules["max"] = draw(st.integers(min_value=-50, max_value=50))
    if draw(st.booleans()):
        n_rules["dependencies"] = {"k": draw(label_values)}
    fr: dict = {"type": "dict", "schema": {"k": k_rules, "n": n_rules}}
    if draw(st.booleans()):
        fr["required"] = draw(st.booleans())
    return fr


@st.composite
def items_rules(draw):
    ifr: dict = {}
    if draw(st.booleans()):
        ifr["min"] = draw(st.integers(min_value=-20, max_value=20))
    if draw(st.booleans()):
        ifr["max"] = draw(st.integers(min_value=-20, max_value=20))
    if draw(st.booleans()):
        ifr["forbidden"] = draw(st.lists(st.integers(-5, 5), min_size=1, max_size=3, unique=True))
    fr: dict = {"type": "list", "items": ifr}
    if draw(st.booleans()):
        fr["minlength"] = draw(st.integers(min_value=0, max_value=3))
    return fr


@st.composite
def anyof_rules(draw):
    n_alts = draw(st.integers(min_value=1, max_value=3))
    alts = []
    for _ in range(n_alts):
        alt: dict = {}
        kind = draw(st.integers(min_value=0, max_value=2))
        if kind == 0:
            alt["min"] = draw(st.integers(-20, 20))
            if draw(st.booleans()):
                alt["max"] = draw(st.integers(-20, 20))
        elif kind == 1:
            alt["allowed"] = draw(st.lists(st.integers(-10, 10), min_size=1, max_size=4, unique=True))
        else:
            alt["forbidden"] = draw(st.lists(st.integers(-10, 10), min_size=1, max_size=2, unique=True))
        alts.append(alt)
    comb = draw(st.sampled_from(["anyof", "oneof"]))
    return {comb: alts}


struct_or_none = st.one_of(
    st.none(),
    st.fixed_dictionaries({"k": str_or_none, "n": int_or_none}),
)
intlist_or_none = st.one_of(
    st.none(),
    st.lists(st.one_of(st.none(), st.integers(-25, 25)), max_size=5),
)

nested_rows_strategy = st.lists(
    st.fixed_dictionaries(
        {"p": struct_or_none, "a": intlist_or_none, "x": int_or_none}
    ),
    min_size=1,
    max_size=8,
)

nested_schema_strategy = st.fixed_dictionaries(
    {"p": nested_struct_rules(), "a": items_rules(), "x": anyof_rules()}
)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(schema=nested_schema_strategy, rows=nested_rows_strategy)
def test_nested_rules_match_python_twin(_spark, schema, rows):
    spark = _spark
    data = [
        (
            idx,
            None if r["p"] is None else (r["p"]["k"], r["p"]["n"]),
            r["a"],
            r["x"],
        )
        for idx, r in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "rid int, p struct<k:string,n:int>, a array<int>, x int"
    )
    res = validate(df, schema, key_cols=["rid"])
    got = {
        (r["rid"], r["field"], r["rule"]) for r in res.violations().collect()
    }
    exp = {
        (idx, f, rule)
        for idx, r in enumerate(rows)
        for (f, rule, _v) in python_validate(r, schema)
    }
    assert got == exp, f"schema={schema} rows={rows}"
