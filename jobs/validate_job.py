#!/usr/bin/env python
"""spark-submit entry point for the full validation pipeline.

Cluster launch (north_rule: spark-submit --py-files at N and 4N
executors; the same invocation works on YARN/K8s/standalone — only
--master and executor counts change):

    python scripts/make_pyfiles.py   # -> dist/cerberus_spark.zip
    spark-submit \
        --master <cluster> \
        --num-executors <N or 4N> \
        --py-files dist/cerberus_spark.zip \
        jobs/validate_job.py \
        --input  <path or iceberg table> \
        --sink   <audit/violations sink dir> \
        --rules  <rules.json, optional — defaults to TRANSCRIPT_RULES> \
        --baseline <frozen baseline snapshot path, optional> \
        --resume <audit log path, optional: skip completed input files>

Locally (this sandbox) the same file runs under plain python with
--master local[N] resolved by cerberus_spark.session.get_spark.

The job is a thin CLI over ``pipeline.run_full_validation``, the same
call the benchmark measures.  Before it: argument parsing,
``--expect-schema`` (metadata only), ``--suggest-rules`` (bootstrap,
then exit) and, with ``--resume``, a semi-join of the scan against the
input files the audit log has not completed.  After it, the sink holds:

    <sink>/violations           (conv_id, turn_idx, field, rule, value);
                                seq_* rows with --sequence-checks
    <sink>/conversation_health  per-conversation gate, --sequence-checks only
    <sink>/rule_summary         (field, rule, n_violations)
    <sink>/partition_summary    (partition_id, file, rows, n_pass, n_fail)
    <sink>/drift                (column_name, kl, psi)
    <sink>/column_stats         null rate, approx distinct, text-length quantiles

With ``--resume`` the audit log records the partition summary's rows
per input file, and ``input_turns`` is the rows this run validated.
On a 700-conversation input at local[8] the job launches 11 Spark jobs
(15 with ``--sequence-checks``, 17 with ``--resume``):
``run_full_validation``'s plus one write per summary table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# plain-python launch from anywhere: the package lives next to jobs/.
# Under spark-submit the --py-files zip provides it instead.
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="parquet dir / Iceberg table of transcripts")
    p.add_argument("--sink", required=True, help="output dir for violations/summary/drift")
    p.add_argument("--rules", default=None, help="JSON file of Cerberus-style rule dicts")
    p.add_argument("--baseline", default=None, help="baseline snapshot path for drift")
    p.add_argument("--resume", default=None, help="audit log path; skip completed files")
    p.add_argument(
        "--sequence-checks",
        action="store_true",
        help="also run the sequence family (turn-index density, role "
        "grammar, ts order) as seq_* rows in <sink>/violations, and "
        "write the per-conversation gate to <sink>/conversation_health",
    )
    p.add_argument(
        "--expect-schema",
        default=None,
        help="schema contract (DDL string or path to a DDL file); the "
        "job fails fast with exit code 2 on declared-vs-actual drift "
        "BEFORE launching any data job (added columns tolerated, "
        "lossless widenings tolerated)",
    )
    p.add_argument(
        "--suggest-rules",
        default=None,
        metavar="OUT_JSON",
        help="bootstrap mode: profile the input (checks.suggest, two "
        "aggregate passes), write suggested rule dicts to OUT_JSON, "
        "and exit — feed the reviewed file back via --rules",
    )
    p.add_argument("--parallelism", type=int, default=None, help="local[..] only")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # under spark-submit a session already exists with the cluster
    # master; get_spark only builds local[...] when none is active
    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        from cerberus_spark.session import get_spark

        spark = get_spark(parallelism=args.parallelism, app_name="cerberus_validate")

    from cerberus_spark import pipeline
    from cerberus_spark.plans.checkpoint import AuditLog, input_units, normalize_unit
    from cerberus_spark.sources.tables import local_table

    rules = pipeline.TRANSCRIPT_RULES
    if args.rules:
        with open(args.rules) as fh:
            rules = json.load(fh)

    df = spark.read.parquet(args.input)

    if args.expect_schema:
        from cerberus_spark.checks.schema_diff import assert_schema
        from cerberus_spark.rules import SchemaError

        ddl = args.expect_schema
        if os.path.exists(ddl):
            with open(ddl) as fh:
                ddl = fh.read()
        try:
            # pure metadata check — runs before any Spark job launches
            assert_schema(df, ddl, allow_added=True)
        except SchemaError as exc:
            print(json.dumps({"status": "schema_drift", "error": str(exc)}))
            return 2

    if args.suggest_rules:
        from cerberus_spark.checks.suggest import suggest_ruleset_json

        suggested = suggest_ruleset_json(df)
        with open(args.suggest_rules, "w") as fh:
            json.dump(suggested, fh, indent=2, sort_keys=True)
        print(json.dumps({"status": "rules_suggested", "out": args.suggest_rules,
                          "n_fields": len(suggested)}))
        return 0

    if args.resume:
        audit = AuditLog(spark, args.resume)
        units = input_units(args.input, spark)
        todo = audit.pending(units)
        if todo.isEmpty():  # file-count-sized check, not data-sized
            print(json.dumps({"status": "nothing_to_do"}))
            return 0
        # Scale-safe resume: semi-join the scan against the pending
        # unit set instead of collect()-ing a driver-side path list
        # (10^6 files at 100 TB would be a multi-hundred-MB list and an
        # astronomical read.parquet(*paths) plan string).  Reads keep
        # the ORIGINAL scan; the scheme-stripped form is only the audit
        # join key.  input_file_name() is captured ONCE here, directly
        # above the parquet relation — Spark forbids it above a plan
        # with two file sources, and the partition summary needs it.
        tagged = df.withColumn("_file", F.input_file_name()).withColumn(
            "_unit", normalize_unit(F.col("_file"))
        )
        # pending side is one row per FILE -> broadcast; keep _file:
        # the partition summary (and so the audit) reuses it instead
        # of re-calling input_file_name()
        df = tagged.join(
            F.broadcast(todo.select(F.col("unit").alias("_unit"))),
            "_unit",
            "left_semi",
        ).drop("_unit")

    baseline = spark.read.parquet(args.baseline) if args.baseline else None

    t0 = time.perf_counter()
    outs = pipeline.run_full_validation(
        spark,
        df,
        sink_dir=args.sink,
        baseline=baseline,
        rules=rules,
        sequence_checks=args.sequence_checks,
    )
    tables = {
        name: local_table(spark, outs[name], ddl)
        for name, ddl in pipeline.SUMMARY_SCHEMAS.items()
    }
    for name, table in tables.items():
        table.write.mode("overwrite").parquet(f"{args.sink}/{name}")
    wall = time.perf_counter() - t0

    if args.resume:
        per_file = (
            tables["partition_summary"]
            .groupBy(normalize_unit(F.col("file")).alias("unit"))
            .agg(*[F.sum(c).alias(c) for c in ("rows", "n_pass", "n_fail")])
        )
        audit.record(per_file)

    n = sum(r["rows"] for r in outs["partition_summary"])
    print(json.dumps({"status": "ok", "input_turns": n, "wall_sec": round(wall, 3)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
