"""The workloads: inputs, the timed job, its output check and the
per-layer spans of the traced run.

Each timed job calls one public composition of ``cerberus_spark`` and
writes every output to a sink under the run's work dir.  Each layer
span materializes one public function on its own, after the layer
before it was checkpointed, so a span times that layer alone.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import gen
import reference as ref
from cerberus_spark.checks.referential import referential_violations
from cerberus_spark.checks.uniqueness import uniqueness_violations
from cerberus_spark.corpus import clean_corpus
from cerberus_spark.functions.text import gopher_report_arrow, normalize_unicode
from cerberus_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_dup_candidates,
    minhash_signatures,
    sequence_neardup_candidates,
    sequence_neardup_pairs,
)
from cerberus_spark.operators.graph import dedup_clusters
from cerberus_spark.pipeline import (
    KEY_COLS,
    TRANSCRIPT_ORDER,
    TRANSCRIPT_RULES,
    all_violations,
    conversation_health,
    conversation_health_from_violations,
    drift_reports,
    materialize,
    run_full_validation,
    sequence_violation_rows,
    transcript_stats,
)
from cerberus_spark.sources.catalog import tool_catalog
from cerberus_spark.validation import validate

#: jobs/corpus_job.py defaults
QUALITY = {"min_tokens": 50, "max_dup_word_milli": 300, "max_top_word_milli": 200, "min_quality_milli": 500}
BUCKET_CAP = 200


def counted(df: DataFrame) -> int:
    """Materialize ``df`` through the noop sink and return its row count
    from the same pass."""
    obs = Observation()
    materialize(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


def write_all(outs: dict[str, DataFrame], sink: str) -> None:
    for k in ("kept", "dropped", "report"):
        outs[k].write.mode("overwrite").parquet(os.path.join(sink, k))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class ValidateTurns:
    """``run_full_validation(sequence_checks=True)`` with a parquet sink.

    The input carries 3% verbatim and 3% edited conversation copies, so
    the traced run can also time conversation near-dup pairing
    (``conv_pairs``) on it; the validator itself ignores them."""

    name, unit, full_span = "validate_turns", "turns", "pipeline"
    n_convs = 20_000

    def inputs(self, seed: int) -> tuple[pa.Table, dict]:
        return gen.transcripts(seed, self.n_convs, exact_copies=0.03, near_copies=0.03)

    def reference(self, data: str, facts: dict) -> None:
        self.expected = ref.violation_rollup(data)
        self.failing_rows = ref.failing_rows(data)
        facts["violations"] = sum(self.expected.values())
        facts["failing_share"] = round(self.failing_rows / facts["rows"], 4)

    def job(self, spark, df: DataFrame, sink: str) -> None:
        run_full_validation(spark, df, sink_dir=sink, sequence_checks=True)

    def check(self, sink: str) -> tuple[bool, str]:
        got = ref.sink_rollup(os.path.join(sink, "violations"))
        if got == self.expected:
            return True, ""
        diff = {f"{k}": (got.get(k), self.expected.get(k)) for k in set(got) | set(self.expected)
                if got.get(k) != self.expected.get(k)}
        return False, f"sink rollup differs (got, expected): {diff}"

    def layers(self, spark, df: DataFrame, tr, sink: str, n_rows: int) -> dict:
        m = {}
        ann = validate(df, TRANSCRIPT_RULES, key_cols=KEY_COLS)
        with tr.span("scan"):
            materialize(df)
        with tr.span("rules"):
            m["rules.violation_rows"] = counted(ann.violations())
        with tr.span("uniqueness"):
            m["uniqueness.rows"] = counted(uniqueness_violations(df, KEY_COLS))
        with tr.span("referential"):
            m["referential.rows"] = counted(
                referential_violations(df, "tool", tool_catalog(spark), "tool", KEY_COLS))
        with tr.span("sequence"):
            m["sequence.rows"] = counted(sequence_violation_rows(df))
        with tr.span("health_gate"):
            health = conversation_health(df)
            obs = Observation()
            materialize(health.observe(obs, F.sum((~F.col("keep")).cast("long")).alias("bad")))
            m["health_gate.unhealthy_convs"] = obs.get["bad"]
        with tr.span("drift"):
            materialize(drift_reports(df))
        with tr.span("column_stats"):
            materialize(transcript_stats(df))
        with tr.span("partition_summary"):
            parts = ann.partition_summary().collect()
        rows, fails = sum(p["rows"] for p in parts), sum(p["n_fail"] for p in parts)
        if rows != n_rows or fails != self.failing_rows:
            raise AssertionError(f"partition summary: {rows} rows / {fails} failing, "
                                 f"expected {n_rows} / {self.failing_rows}")
        m["rules.fail_share"] = fails / rows
        viol = all_violations(spark, df, None, sequence_checks=True)
        out = os.path.join(sink, "violations")
        with tr.span("sink_write"):
            viol.write.mode("overwrite").parquet(out)
        m["sink_write.bytes"] = dir_bytes(out)
        sunk = spark.read.parquet(out)
        with tr.span("rollup_summary"):
            materialize(sunk.groupBy("field", "rule").agg(F.count(F.lit(1)).alias("n")))
        with tr.span("rollup_health"):
            materialize(conversation_health_from_violations(df, sunk))
        # near-dup conversations by turn text, as clean_transcripts pairs them
        near = ("conv_id", TRANSCRIPT_ORDER, "text")
        m["conv_pairs.candidate_pairs"] = sequence_neardup_candidates(df, *near, bucket_cap=BUCKET_CAP).count()
        with tr.span("conv_pairs"):
            m["conv_pairs.verified_pairs"] = counted(sequence_neardup_pairs(df, *near, bucket_cap=BUCKET_CAP))
        return m


class CleanDocs:
    """``clean_corpus`` with its three outputs sunk, as jobs/corpus_job.py does."""

    name, unit, full_span = "clean_docs", "docs", "corpus_sink"
    n_docs = 4_000

    def inputs(self, seed: int) -> tuple[pa.Table, dict]:
        return gen.documents(seed, self.n_docs)

    def reference(self, data: str, facts: dict) -> None:
        self.facts = facts

    def job(self, spark, df: DataFrame, sink: str) -> None:
        write_all(clean_corpus(df, quality_kwargs=QUALITY, bucket_cap=BUCKET_CAP), sink)

    def check(self, sink: str) -> tuple[bool, str]:
        c = ref.check_corpus(sink, self.facts["rows"])
        want = {"quality": self.facts["quality_drops"], "exact_dup": self.facts["exact_dup_drops"]}
        got = {k: c["stages"].get(k, 0) for k in want}
        if c["accounted"] and got == want:
            return True, ""
        return False, f"accounted={c['accounted']} drops={got} expected={want}"

    def layers(self, spark, df: DataFrame, tr, sink: str, n_rows: int) -> dict:
        m = {}
        with tr.span("scan"):
            materialize(df)
        with tr.span("normalize"):
            norm = df.withColumn("text", normalize_unicode("text")).localCheckpoint()
        with tr.span("quality_gate"):
            gated = gopher_report_arrow(norm, "text", **QUALITY).localCheckpoint()
        survivors = gated.filter("keep").drop("keep", "reasons")
        m["quality_gate.drop_share"] = 1 - survivors.count() / n_rows
        with tr.span("exact_dedup"):
            materialize(exact_dedup_groups(survivors, "text", "doc_id"))
        with tr.span("minhash"):
            sigs = minhash_signatures(survivors, "text", "doc_id", num_hashes=16, shingle_k=3).localCheckpoint()
        with tr.span("lsh"):
            cand = minhash_dup_candidates(sigs, "doc_id", bucket_cap=BUCKET_CAP).localCheckpoint()
        m["lsh.candidate_pairs"] = cand.count()
        with tr.span("clusters"):
            m["clusters.clustered_ids"] = counted(dedup_clusters(cand))
        return m


WORKLOADS = {w.name: w for w in (ValidateTurns, CleanDocs)}

