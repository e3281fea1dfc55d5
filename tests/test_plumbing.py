"""Multimodal plumbing, checkpoint/resume, streaming validation, and
the contract table's cross-engine lint."""

from __future__ import annotations

import ast
import inspect
import re
import textwrap
from pathlib import Path

from pyspark.sql import functions as F

from cerberus_spark.functions.multimodal import extract_features, synthesize_media, FEATURE_DIM
from cerberus_spark.plans.checkpoint import AuditLog
from cerberus_spark.sources.transcripts import generate_transcripts
from cerberus_spark.validation import validate
from conftest import run_stream_to_memory


def test_multimodal_features(spark):
    media = synthesize_media(spark, 50)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r.features)
    # deterministic across runs
    again = {r.media_id: r.features for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.features for r in rows)


def test_audit_resume(spark, tmp_path):
    log = AuditLog(spark, str(tmp_path / "audit"))
    units = spark.createDataFrame([(f"f{i}",) for i in range(6)], "unit string")
    assert log.pending(units).count() == 6
    done = spark.createDataFrame(
        [("f0", 10, 9, 1), ("f3", 5, 5, 0)], "unit string, rows long, n_pass long, n_fail long"
    )
    log.record(done)
    pend = {r.unit for r in log.pending(units).collect()}
    assert pend == {"f1", "f2", "f4", "f5"}
    # idempotent re-record of f0 leaves pending unchanged
    log.record(done.filter(F.col("unit") == "f0"))
    assert {r.unit for r in log.pending(units).collect()} == pend


RULES = {
    "role": {"required": True, "allowed": ["system", "user", "assistant", "tool"]},
    "text": {"required": True},
}


def test_streaming_validation(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    generate_transcripts(spark, 150).write.parquet(src)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    out = run_stream_to_memory(
        spark, src, schema, lambda s: validate(s, RULES).annotated, query_name="vstream"
    )
    batch = validate(spark.read.parquet(src), RULES).annotated
    assert out.count() == batch.count()
    assert out.filter(~F.col("_passed")).count() == batch.filter(~F.col("_passed")).count()


# Pairs whose sum is of log, ratio or distance terms: there is no
# integer-cents form, so both engines round the double sum instead.
_ROUNDED_SUM_PAIRS = {
    "drift_event_type": "KL/PSI: sum of p*ln(p/q) terms",
    "drift_value": "KL/PSI: sum of p*ln(p/q) terms",
    "windowed_drift": "per-window KL/PSI: sum of p*ln(p/q) terms",
    "windowed_drift_value": "per-window KL/PSI: sum of p*ln(p/q) terms",
    "chi2_drift": "chi-square/G: sum of (o-e)^2/e and o*ln(o/e) terms",
    "windowed_chi2": "per-window chi-square/G: sum of (o-e)^2/e and o*ln(o/e) terms",
    "w1_drift": "Wasserstein-1: sum of CDF gaps times bin widths",
    "embedding_drift": "centroid cosine: dot product over vector norms",
}
_ROUNDED_SUM = re.compile(r"round\(\s*(?:F\.)?sum\(", re.IGNORECASE)


def test_contract_pairs_sum_money_in_integer_cents():
    """Every contract pair has an oracle, and no pair rounds a double
    sum: a double sum depends on the summation order, so its rounding
    can differ between engines and partitionings.  Money sums add
    ``round(value * 100)`` as a long and divide by 100 at the end."""
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    assert queries.keys() == oracles.keys()
    rounded = {
        name
        for name, fn in queries.items()
        if _ROUNDED_SUM.search(inspect.getsource(fn)) or _ROUNDED_SUM.search(oracles[name])
    }
    assert rounded - _ROUNDED_SUM_PAIRS.keys() == set()
    assert _ROUNDED_SUM_PAIRS.keys() - rounded == set()  # no stale exemption


def _package_names(fn, entry, seen):
    """True when ``fn`` (a contract pair or one of its ``__spark_entry__``
    helpers, walked transitively) names ``cerberus_spark`` code: a local
    ``from cerberus_spark... import`` or a global bound to a package
    function, class or module.  Docstrings do not count."""
    if fn in seen:
        return False
    seen.add(fn)
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("cerberus_spark"):
            return True
        if isinstance(node, ast.Name) and node.id in vars(entry):
            obj = vars(entry)[node.id]
            module = getattr(obj, "__module__", None) or getattr(obj, "__name__", "")
            if module.startswith("cerberus_spark"):
                return True
            if module == entry.__name__ and inspect.isfunction(obj):
                if _package_names(obj, entry, seen):
                    return True
    return False


def test_every_contract_pair_calls_the_package():
    """Each pair exists to prove a ``cerberus_spark`` operator against
    DuckDB, so each must reach package code; a pair of plain ``pyspark``
    proves only Spark itself."""
    import __spark_entry__ as entry

    without = sorted(
        name for name, fn in entry.queries().items() if not _package_names(fn, entry, set())
    )
    assert without == []


#: the package's Python reference for ``generate_transcripts``: the
#: generator tests compare the Spark rows against it, so no job runs it
_TEST_REFERENCE_DEFS = {"py_rows", "py_n_turns"}


def _used_names(tree):
    """Every name and attribute ``tree`` uses: string constants, and so
    docstrings, do not count."""
    return {
        node.id if isinstance(node, ast.Name) else node.attr
        for node in ast.walk(tree)
        if isinstance(node, (ast.Name, ast.Attribute))
    }


def test_no_package_def_is_reached_only_from_tests():
    """Every top-level package def is reached, by name and through the
    defs it reaches, from code that runs outside the test suite: the
    CLI jobs, ``bench.py``, ``perfbench/``, ``scripts/oracle_check.py``
    and ``__spark_entry__.py`` (the contract pairs).  A def only tests
    call is an option nothing uses."""
    from conftest import REPO

    root = Path(REPO)
    defs, module_level = {}, set()
    for path in sorted((root / "cerberus_spark").rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                module_level |= _used_names(node)
    roots = [root / "bench.py", root / "__spark_entry__.py", root / "scripts" / "oracle_check.py"]
    roots += sorted((root / "jobs").rglob("*.py")) + sorted((root / "perfbench").rglob("*.py"))
    frontier = set(module_level)
    for path in roots:
        frontier |= _used_names(ast.parse(path.read_text()))
    reached = set()
    while frontier:
        name = frontier.pop()
        if name in defs and name not in reached:
            reached.add(name)
            for node in defs[name]:
                frontier |= _used_names(node)
    unreached = sorted(set(defs) - reached - _TEST_REFERENCE_DEFS)
    assert unreached == []
    assert _TEST_REFERENCE_DEFS <= set(defs) - reached  # no stale exemption


def test_default_driver_memory_fits_the_machine(tmp_path):
    """The default heap is half of MemAvailable in whole GiB, between 1g
    and 24g; 24g when the kernel does not report it."""
    from cerberus_spark.session import default_driver_memory

    meminfo = tmp_path / "meminfo"

    def heap(text: str) -> str:
        meminfo.write_text(text)
        return default_driver_memory(str(meminfo))

    assert heap("MemTotal:       15728640 kB\nMemAvailable:   14680064 kB\n") == "7g"
    assert heap("MemAvailable:   134217728 kB\n") == "24g"
    assert heap("MemAvailable:   1048576 kB\n") == "1g"
    assert heap("MemTotal:       15728640 kB\n") == "24g"
    assert default_driver_memory(str(tmp_path / "absent")) == "24g"
