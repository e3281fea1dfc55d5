"""Physical-plan regression tests: the plan SHAPE is part of the
contract at 100 TB.  These assert what `.explain("formatted")` shows —
pushdown, pruning, broadcast strategies, shuffle count — so a future
refactor can't silently turn a map-side join into a 100 TB shuffle.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from cerberus_spark.checks.referential import referential_orphans
from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.pipeline import TRANSCRIPT_RULES
from cerberus_spark.sources.catalog import tool_catalog
from cerberus_spark.sources.transcripts import generate_transcripts
from cerberus_spark.validation import validate


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def n_exchanges(plan: str) -> int:
    """Count Exchange operators via their formatted-mode detail headers."""
    return len(re.findall(r"\(\d+\) Exchange", plan))


@pytest.fixture(scope="module")
def transcripts_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "t")
    generate_transcripts(spark, 500).write.parquet(p)
    return spark.read.parquet(p)


def test_validation_plan_is_shuffle_free(spark, transcripts_parquet):
    """Rule evaluation must stay a scan + project — zero exchanges."""
    res = validate(transcripts_parquet, TRANSCRIPT_RULES, key_cols=["conv_id", "turn_idx"])
    plan = plan_of(res.violations())
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_filter_pushdown_reaches_parquet(spark, transcripts_parquet):
    plan = plan_of(transcripts_parquet.filter(F.col("role") == "tool").select("conv_id"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "role" in m.group(1), plan


def test_column_pruning_reaches_parquet(spark, transcripts_parquet):
    plan = plan_of(transcripts_parquet.select("conv_id", "turn_idx"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"conv_id", "turn_idx"}, plan


def test_uniqueness_direct_is_partial_final_hash_agg(spark, transcripts_parquet):
    """One shuffle keyed on the natural key, partial agg before it."""
    plan = plan_of(uniqueness_violations(transcripts_parquet, ["conv_id", "turn_idx"]))
    assert n_exchanges(plan) == 1, plan
    assert "hashpartitioning(conv_id" in plan, plan
    assert "HashAggregate" in plan
    # map-side combine keeps shuffle volume at |distinct keys|
    assert "partial_count" in plan, plan


def test_evaluate_once_barrier_defeats_collapse_project(spark):
    """The Generate barrier must cut N inlined evaluations of an
    expensive expression to one, with NO exchange and no row-count
    change (NULL results included)."""
    from cerberus_spark.plans.barrier import evaluate_once

    df = spark.range(10).withColumn(
        "js", F.concat(F.lit('{"k": '), F.col("id").cast("string"), F.lit("}"))
    )
    expensive = F.from_json("js", "k int")
    naive = df.select(
        (expensive.getField("k") + 1).alias("a"),
        (expensive.getField("k") + 2).alias("b"),
        (expensive.getField("k") * 3).alias("c"),
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert naive_plan.count("from_json") == 3, naive_plan  # the disease

    bar = evaluate_once(df, "_p", expensive)
    out = bar.select(
        (F.col("_p.k") + 1).alias("a"),
        (F.col("_p.k") + 2).alias("b"),
        (F.col("_p.k") * 3).alias("c"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("from_json") == 1, plan
    assert "Exchange" not in plan, plan
    assert out.count() == 10
    # a NULL expression result still yields its row
    nulls = spark.createDataFrame([(None,)], "js string")
    assert evaluate_once(nulls, "_p", F.from_json("js", "k int")).count() == 1


def test_referential_is_broadcast_anti_join(spark, transcripts_parquet):
    plan = plan_of(
        referential_orphans(transcripts_parquet, "tool", tool_catalog(spark), "tool")
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # dim side reaches the join via a BroadcastExchange; the only
    # hash-shuffle allowed is the dim's own tiny distinct (8 rows) —
    # the fact side streams map-side into the join
    assert "BroadcastExchange" in plan, plan
    assert n_exchanges(plan) <= 2, plan


def test_whole_stage_codegen_covers_rule_eval(spark, transcripts_parquet):
    """The rule filter over ``_passed`` (the OR of the plain rule
    predicates) runs inside whole-stage codegen: no higher-order
    function in its condition pushes it out."""
    res = validate(transcripts_parquet, TRANSCRIPT_RULES)
    plan = plan_of(res.failed().select("conv_id"))
    # formatted mode marks codegen'd operators with [codegen id : N]
    filters = re.findall(r"\(\d+\) Filter( \[codegen id : \d+\])?\nInput .*\nCondition : (.*)", plan)
    rule_filters = [cg for cg, cond in filters if "RLIKE(conv_id" in cond]
    assert len(rule_filters) == 1 and rule_filters[0], plan


def plan_ops(plan: str) -> list[tuple[int, str]]:
    """(depth, operator name) for each line of a formatted plan's tree."""
    tree = plan.split("== Physical Plan ==")[1].strip().split("\n\n")[0]
    out = []
    for line in tree.splitlines():
        name = line.lstrip(" :|+-")
        out.append((len(line) - len(name), name.rsplit(" (", 1)[0].strip()))
    return out


def test_all_violations_one_scan_one_exchange(spark, transcripts_parquet):
    """With the sequence checks, the violations sink is one projection
    over one scan of the fact table and ONE hash exchange on the
    conversation key.  Every row-local rule (the catalog check a literal
    allowed set) runs before that exchange, so it carries the keys,
    role, ts and the row's violation array, never text or tool; the
    uniqueness window reuses the conv window's exchange and sort, and
    no check aggregates, joins or broadcasts."""
    from cerberus_spark.pipeline import all_violations

    plan = plan_of(all_violations(spark, transcripts_parquet, sequence_checks=True))
    ops = [n for _, n in plan_ops(plan)]
    assert ops.count("Scan parquet") == 1, plan
    assert ops.count("Exchange") == 1 and ops.count("Sort") == 1, plan
    assert re.search(r"Arguments: hashpartitioning\(conv_id#\d+, \d+\)", plan), plan
    exchange = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert exchange, plan
    cols = [c.split("#")[0] for c in exchange.group(1).split(", ")]
    assert cols == ["conv_id", "turn_idx", "role", "ts", "_row_v"], plan
    assert "HashAggregate" not in ops, plan
    assert "BroadcastExchange" not in ops, plan
    assert not any("Join" in n for n in ops), plan


def test_all_violations_without_sequence_shuffles_keys_only(spark, transcripts_parquet):
    """Without the sequence checks no window runs, so no full row is
    shuffled or sorted: the row checks stream map-side over one scan
    (the catalog a literal allowed set, no join), and the only exchange
    carries (conv_id, turn_idx) partial counts from a key-pruned
    scan."""
    from cerberus_spark.pipeline import all_violations

    plan = plan_of(all_violations(spark, transcripts_parquet, sequence_checks=False))
    ops = [n for _, n in plan_ops(plan)]
    assert ops.count("Scan parquet") == 2, plan
    schemas = sorted(re.findall(r"ReadSchema: struct<([^>]*)>", plan), key=len)
    assert schemas[0] == "conv_id:string,turn_idx:int", plan
    assert ops.count("Exchange") == 1, plan
    i = ops.index("Exchange")
    assert ops[i - 1] == ops[i + 1] == "HashAggregate", plan
    assert re.search(r"Arguments: hashpartitioning\(conv_id#\d+, turn_idx#\d+, \d+\)", plan), plan
    assert "Sort" not in ops and "Window" not in ops, plan
    assert "BroadcastExchange" not in ops, plan
    assert not any("Join" in n for n in ops), plan


def test_broadcast_join_for_small_dim(spark, sf_dir="/root/testdata/sf0.001"):
    """TPC-H-ish q3 shape: the filtered customer dim broadcasts."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    plan = plan_of(j)
    assert "BroadcastHashJoin" in plan, plan


def test_first_occurrence_is_partial_aggregate(spark, transcripts_parquet):
    """first_occurrence must compile to an aggregate with a MAP-SIDE
    PARTIAL (only one group-winner row per key per input partition
    crosses the single exchange), not a window rank (which shuffles and
    sorts EVERY row only to discard all but one per key)."""
    from cerberus_spark.operators.dedup import first_occurrence

    plan = plan_of(first_occurrence(transcripts_parquet, ["conv_id"], ["turn_idx"]))
    assert "partial_min_by" in plan, plan
    assert n_exchanges(plan) == 1, plan
    assert "Window" not in plan, plan
    # no GLOBAL sort: any Sort present is the partition-local ordering
    # SortAggregate requires (min_by's struct buffer is not
    # hash-aggregable), marked global=false in the formatted plan
    for m in re.finditer(r"Arguments: \[[^\]]*\], (true|false), 0", plan):
        assert m.group(1) == "false", plan


def test_first_occurrence_agg_matches_window(spark, transcripts_parquet):
    """The aggregate keeps the row a row_number() window ranks first."""
    from pyspark.sql import Window

    from cerberus_spark.operators.dedup import first_occurrence

    a = first_occurrence(transcripts_parquet, ["conv_id", "role"], ["turn_idx"])
    w = Window.partitionBy("conv_id", "role").orderBy("turn_idx")
    b = transcripts_parquet.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
    ka = sorted((r.conv_id, r.role, r.turn_idx) for r in a.collect())
    kb = sorted((r.conv_id, r.role, r.turn_idx) for r in b.collect())
    assert ka == kb and len(ka) > 0


def test_asof_join_is_union_window_not_range_join(spark):
    """asof_join must compile to union + ONE key shuffle + local sort +
    carry-forward window — a range join (theta join on ts <=) would
    blow up O(|L|·|R|) per key at 100 TB."""
    from cerberus_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "k", 10)], "id long, k string, ts long")
    right = spark.createDataFrame([("k", 5, 1.0)], "k string, ts long, v double")
    plan = plan_of(asof_join(left, right, ["k"], "ts", "ts", ["v"]))
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    assert n_exchanges(plan) == 1, plan


def test_interval_join_is_equi_join_not_nlj(spark):
    """interval_join must hash-join on the chunk key; the raw theta
    join it replaces plans as BroadcastNestedLoopJoin (points ×
    intervals — quadratic)."""
    from cerberus_spark.operators.rangejoin import interval_join

    pts = spark.createDataFrame([(1, 1000)], "pid long, ts long").select(
        "pid", F.timestamp_seconds(F.col("ts")).alias("ts")
    )
    ivs = spark.createDataFrame([(1, 0, 2000)], "iv long, s long, e long").select(
        "iv",
        F.timestamp_seconds(F.col("s")).alias("s"),
        F.timestamp_seconds(F.col("e")).alias("e"),
    )
    plan = plan_of(interval_join(pts, "ts", ivs, "s", "e"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_bucketed_join_is_colocated_no_shuffle(spark, transcripts_parquet, tmp_path_factory):
    """Bucketing both sides on the join key pre-partitions data at
    write time — the join then needs NO exchange (the 100 TB co-located
    join strategy; analog of the reference's keyed KV layout,
    internal/monitor/monitor.go:47-53)."""
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    transcripts_parquet.select("conv_id", "turn_idx", "role").write.bucketBy(
        8, "conv_id"
    ).sortBy("conv_id").mode("overwrite").saveAsTable("bkt_a")
    transcripts_parquet.groupBy("conv_id").count().write.bucketBy(
        8, "conv_id"
    ).sortBy("conv_id").mode("overwrite").saveAsTable("bkt_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "conv_id")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan, plan
        assert n_exchanges(plan) == 0, plan
        # sanity: same result as the unbucketed join
        assert j.count() == transcripts_parquet.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_bloom_probe_is_map_side_only(spark):
    """The Bloom probe must add ZERO exchanges: broadcast bits +
    ArrowEval over the scan — the whole point is dropping non-members
    before any shuffle."""
    from cerberus_spark.operators.bloom import bloom_filter_rows, build_bloom

    keys = spark.createDataFrame([("a",), ("b",)], "k string")
    bloom = build_bloom(keys, "k", capacity=64)
    big = spark.createDataFrame([("a", 1), ("z", 2)], "k string, v long")
    plan = plan_of(bloom_filter_rows(big, "k", bloom))
    assert "Exchange" not in plan, plan


def test_trim_to_budget_single_shuffle(spark):
    """One hash-partitioning exchange on the conversation key; no
    global sort (the window sorts within partitions only)."""
    from cerberus_spark.operators.pack import trim_to_budget

    df = spark.createDataFrame([("c", 0, 5)], "conv string, turn int, toks int")
    plan = plan_of(trim_to_budget(df, "conv", ["turn"], "toks", 10))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(conv" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_mad_outliers_no_window_over_table(spark):
    """Group moments come from broadcast-joined aggregates, never a
    Window re-sort of the table."""
    from cerberus_spark.checks.stats import outliers_mad

    df = spark.createDataFrame([("g", 1.0)], "g string, v double")
    plan = plan_of(outliers_mad(df, "v", ["g"]))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_fuzzy_join_never_nested_loop(spark):
    """edit1_pairs must stay an equi-join on the deletion variant —
    the quadratic theta join it replaces plans as
    BroadcastNestedLoopJoin/CartesianProduct."""
    from cerberus_spark.operators.fuzzy import edit1_pairs

    df = spark.createDataFrame([(1, "abcd"), (2, "abce")], "id long, k string")
    plan = plan_of(edit1_pairs(df, "id", "k"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "levenshtein" in plan, plan  # the exact verify stage is present


def test_merge_intervals_single_shuffle_no_join(spark):
    """Gaps-and-islands interval merge: ONE exchange keyed on the
    interval key (both window passes and the final group-by reuse the
    same partitioning), and never a join/NLJ."""
    from cerberus_spark.operators.winnow import merge_intervals

    df = spark.createDataFrame(
        [("k", 0, 5), ("k", 4, 9)], "key string, lo long, hi long"
    )
    plan = plan_of(merge_intervals(df, ["key"], "lo", "hi"))
    assert n_exchanges(plan) == 1, plan
    assert "Join" not in plan, plan


def test_gopher_gate_is_shuffle_free_projection(spark):
    """The composite quality gate must stay one per-row Python pass —
    zero exchanges and one MapInPandas, however many signals and
    k-gram caps it composes."""
    from cerberus_spark.functions.text import gopher_report_arrow

    df = spark.range(10).select(
        F.concat(F.lit("doc text sample "), F.col("id").cast("string")).alias("text")
    )
    out = gopher_report_arrow(
        df, "text", max_top_ngram_char_milli={2: 200}, max_dup_ngram_char_milli={5: 150}
    )
    plan = plan_of(out)
    assert n_exchanges(plan) == 0, plan
    assert python_nodes(out) == ["MapInPandas"], plan


def test_normalize_phase_is_shuffle_free_projection(spark):
    """The Cerberus normalization phase (rename/default/coerce/purge)
    must compile to a single projection over the scan — zero
    exchanges."""
    from cerberus_spark.normalize import normalize_documents

    df = spark.range(10).select(
        F.col("id"), F.lit(" X ").alias("role"), F.lit("j").alias("junk")
    )
    out = normalize_documents(
        df,
        {"role": {"rename": "speaker", "default": "u", "coerce": ["strip", "lower"]}},
        keys=("id",),
        purge_unknown=True,
    )
    plan = plan_of(out)
    assert "Exchange" not in plan, plan


def test_cluster_representatives_no_window(spark):
    """Representative selection is ONE partial-aggregable groupBy
    (max_by/max/count combine map-side) — never a Window re-sort of
    the clustered rows, and exactly one post-join exchange."""
    from cerberus_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame([(1, 1)], "id long, cluster_id long")
    attrs = spark.createDataFrame([(1, 10)], "doc_id long, n_chars long")
    plan = plan_of(cluster_representatives(clusters, attrs, "doc_id", "n_chars"))
    assert "Window" not in plan, plan
    assert plan.count("min_by") >= 2, plan  # partial + final agg phases


def test_sequence_fingerprints_single_shuffle_no_python(spark):
    """Conversation fingerprinting shuffles the corpus ONCE (keyed by
    conversation) and the ordered render + md5 stays JVM-side — no
    Python evaluation node anywhere in the plan."""
    from cerberus_spark.operators.dedup import sequence_fingerprints

    df = spark.createDataFrame([("A", 1, "x")], "key string, pos int, tok string")
    plan = plan_of(sequence_fingerprints(df, "key", ["pos"], "tok"))
    assert n_exchanges(plan) == 1, plan
    # no Python eval node of any flavor (the ExistingRDD scan name from
    # createDataFrame contains "PythonRDD" — that's the test input, not
    # an eval operator)
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_sequence_minhash_single_shuffle_reuses_window_partitioning(spark):
    """Conversation MinHash shuffles the corpus ONCE: the signature
    groupBy(key) rides the lag-window's hash(key) exchange (no second
    Exchange), and shingling + the 16 minima are pure JVM expressions."""
    from cerberus_spark.operators.dedup import sequence_minhash

    df = spark.createDataFrame([("A", 1, "x")], "key string, pos int, tok string")
    plan = plan_of(sequence_minhash(df, "key", ["pos"], "tok"))
    assert n_exchanges(plan) == 1, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_sequence_neardup_pairs_shares_one_shingle_pass(spark):
    """The candidate->verify chain must derive its four shingle
    consumers (signatures, sizes, two verify probes) from ONE
    materialized distinct-shingle frame: the live plan contains ZERO
    Window nodes — the corpus scan + lag-window pass runs once, inside
    the checkpoint materialization — where recomputing it would plan
    the window once per consumer (5x corpus scans measured)."""
    from cerberus_spark.operators.dedup import sequence_neardup_pairs

    df = spark.createDataFrame(
        [("A", i, f"x{i % 3}") for i in range(4)],
        "key string, pos int, tok string",
    )
    shared = plan_of(sequence_neardup_pairs(df, "key", ["pos"], "tok"))
    assert len(re.findall(r"\(\d+\) Window", shared)) == 0, shared
    assert "CartesianProduct" not in shared, shared
    assert "BroadcastNestedLoopJoin" not in shared, shared


def test_clean_transcripts_report_plan_shape(spark):
    """The full transcript-cleaning composition (health gate ->
    conversation near-dedup -> report) must stay join-safe end to end:
    no cartesian/nested-loop join anywhere, ZERO Window passes in the
    lazy report plan (the health window runs ONCE inside the
    checkpointed health-drop frame and the near-dup shingle window
    once inside the shared-shingle checkpoint, so no consumer —
    dropped, report, kept — re-runs a corpus-sized sort), and all-JVM
    expressions (no Python eval nodes)."""
    import datetime as dt

    from cerberus_spark.corpus import clean_transcripts

    T0 = dt.datetime(2026, 1, 1)
    rows = [("A", i, "a" if i % 2 else "b", T0 + dt.timedelta(minutes=i))
            for i in range(6)]
    df = spark.createDataFrame(rows, "conv string, idx int, tok string, ts timestamp")
    out = clean_transcripts(
        df, "conv", ["idx"], "tok", "ts",
        {("a", "b"), ("b", "a")}, {"b"},
    )
    plan = plan_of(out["report"])
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, plan


#: physical nodes that run Python: each costs one Python worker task
#: per partition
PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")


def python_nodes(df) -> list[str]:
    return [n for _, n in plan_ops(plan_of(df)) if n in PYTHON_NODES]


def python_task_nodes(df) -> list[str]:
    """:func:`python_nodes` plus ``Scan ExistingRDD``: a
    ``createDataFrame(list)`` table, read by one Python task per
    partition (a local checkpoint plans the same node, JVM-only)."""
    return [n for _, n in plan_ops(plan_of(df)) if n in PYTHON_NODES + ("Scan ExistingRDD",)]


@pytest.mark.parametrize("sequence_checks", [True, False])
def test_all_violations_runs_no_python(spark, transcripts_parquet, sequence_checks):
    """The violations sink, its catalog check included, is JVM-only: no
    Python UDF and no Python-RDD table in the plan."""
    from cerberus_spark.pipeline import all_violations

    out = all_violations(spark, transcripts_parquet, sequence_checks=sequence_checks)
    assert python_task_nodes(out) == [], plan_of(out)


def test_local_tables_run_no_python(spark, transcripts_parquet):
    """Small tables built in Python reach the JVM as Arrow: a
    LocalTableScan, never a Python task."""
    from cerberus_spark.pipeline import drift_reports

    for out in (tool_catalog(spark), drift_reports(transcripts_parquet)):
        assert python_task_nodes(out) == [], plan_of(out)
        assert "LocalTableScan" in plan_of(out), plan_of(out)


def _lock_docs(spark):
    return spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document number "), F.col("id").cast("string")).alias("text"),
    )


def test_clean_corpus_document_stage_is_one_python_pass(spark, monkeypatch):
    """Normalize, quality gate and MinHash run as ONE Arrow pass per
    document: the quality drops (the per-document stage alone, with
    checkpoints lifted so the plan shows its full lineage) plan exactly
    one Python node, and with the checkpoint nothing downstream of it
    runs Python."""
    from cerberus_spark.corpus import clean_corpus

    docs = _lock_docs(spark)
    with monkeypatch.context() as m:
        m.setattr(type(docs), "localCheckpoint", lambda self, eager=True: self)
        unckpt = clean_corpus(docs)["dropped"]
    quality = unckpt.filter(F.col("stage") == "quality")
    assert python_nodes(quality) == ["MapInPandas"], plan_of(quality)
    outs = clean_corpus(docs)
    for name in ("kept", "dropped", "report"):
        assert python_nodes(outs[name]) == [], (name, plan_of(outs[name]))


def test_ingest_corpus_increment_is_one_python_pass(spark, tmp_path, monkeypatch):
    """Every table ``ingest_corpus_increment`` writes derives from one
    Python pass per document (checkpoints lifted so the plans show
    their full lineage; nothing is written)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from cerberus_spark.corpus import ingest_corpus_increment

    docs = _lock_docs(spark)
    written = {}
    monkeypatch.setattr(type(docs), "localCheckpoint", lambda self, eager=True: self)
    monkeypatch.setattr(
        DataFrameWriter,
        "parquet",
        lambda self, path, *a, **k: written.__setitem__(path.rsplit("/", 1)[1], self._df),
    )
    ingest_corpus_increment(docs, str(tmp_path))
    assert sorted(written) == ["gated", "quality_drops", "sigs"]
    for name, out in written.items():
        assert python_nodes(out) == ["MapInPandas"], (name, plan_of(out))


def test_spread_runs_no_job(spark, count_jobs):
    """Deciding whether to repartition must not execute the plan: on
    a plan with a shuffle, counting output partitions would run it."""
    from cerberus_spark.sources.tables import spread

    agg = spark.range(100).groupBy((F.col("id") % 7).alias("k")).agg(F.count("*").alias("n"))
    with count_jobs() as jobs:
        spread(agg)
        spread(spark.range(10).coalesce(1))
    assert jobs.n == 0


def _dup_docs(spark):
    """Documents that pass the default gate, with exact and near dups
    and one gate failure: every stage of ``clean_corpus`` has work."""
    words = [f"w{i:03d}" for i in range(400)]
    base = [" ".join(words[i * 60 : i * 60 + 60]) for i in range(6)]
    rows = [(i, t) for i, t in enumerate(base)]
    rows += [(10 + i, base[i]) for i in range(3)]  # exact dups
    rows += [(20 + i, base[i].replace(words[i * 60 + 5], "swapped")) for i in range(3)]  # near
    rows += [(30, "too short")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_clean_corpus_job_budget(spark, tmp_path, count_jobs):
    """Every document is decided once, before the one checkpoint, and
    a small candidate graph is clustered from one collect: running
    ``clean_corpus`` and writing its three outputs stays within 10
    Spark jobs (21 when each output re-derived the exact-dup verdict
    and the clusters took five jobs of their own)."""
    from cerberus_spark.corpus import clean_corpus

    docs = _dup_docs(spark)
    kw = {"minhash_kwargs": {"num_hashes": 32, "shingle_k": 3}, "bands": 8, "rows_per_band": 4}
    with count_jobs() as jobs:
        outs = clean_corpus(docs, **kw)
        for name in ("kept", "dropped", "report"):
            outs[name].write.parquet(str(tmp_path / name))
    stages = {r.stage for r in spark.read.parquet(str(tmp_path / "dropped")).collect()}
    assert stages == {"quality", "exact_dup", "near_dup"}
    assert jobs.n <= 10, jobs.n


def test_clean_corpus_outputs_read_the_verdict(spark):
    """After the document checkpoint the outputs only filter it: no
    fingerprint (md5) and no Exchange or Window on ``_fp`` in the plans
    of ``kept``, ``dropped`` or ``report``."""
    from cerberus_spark.corpus import clean_corpus

    outs = clean_corpus(_dup_docs(spark))
    for name in ("kept", "dropped", "report"):
        plan = plan_of(outs[name])
        assert "md5" not in plan, (name, plan)
        assert "hashpartitioning(_fp" not in plan, (name, plan)
        assert "Window" not in [n for _, n in plan_ops(plan)], (name, plan)


def test_dedup_clusters_driver_regime_is_local_table(spark):
    """A graph under ``driver_threshold`` is clustered on the driver:
    the result is a local table, with no Exchange left to run."""
    from cerberus_spark.operators.graph import dedup_clusters

    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    plan = plan_of(dedup_clusters(edges))
    assert "LocalTableScan" in plan, plan
    assert n_exchanges(plan) == 0, plan
