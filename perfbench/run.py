#!/usr/bin/env python3
"""Benchmark of the cerberus_spark validator and cleaning pipelines.

    python3 perfbench/run.py --workload validate_turns --seed 1 --seconds 20 --trace 0

Run from the repository root.  One run, in one process, with Spark at
``local[nproc]``:

1. generates the workload's input from ``--seed`` (untimed);
2. sets up once, from a cold JVM: lands the input as parquet, starts the
   SparkSession and runs ``WARMUP_JOBS`` checked jobs (a fresh JVM's
   first jobs pay its class loading, JIT and code generation); that is
   ``setup_s``.  The DuckDB output reference is computed in between and
   is not counted;
3. runs the job back to back for ``--seconds``, checking every job's
   outputs.  ``--trace 1`` spends half of that untraced, then restarts
   the SparkContext in the same JVM with its event log on, times each
   layer alone in a span and runs the other half traced.

Every metric is printed with its unit; the last stdout line is one JSON
object.  The run record (session config, revision, steal per job,
spans) goes to ``.perfbench_runs/``; scratch data to ``.perfbench_work/``,
which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUNS = os.path.join(ROOT, ".perfbench_runs")
WARMUP_JOBS = 2
#: the session default is a 24g heap, more than this 15 GB box has.  The
#: heap is fixed and pre-touched so peak RSS does not depend on when G1
#: grows it; what moves it is memory outside the heap (Python workers,
#: off-heap buffers, generated classes)
DRIVER_MEMORY = "2g"
NPROC = len(os.sched_getaffinity(0))

END_TO_END = {"wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
#: spans that time one layer alone, and the two full-job spans
LAYER_SPANS = [
    "scan", "rules", "uniqueness", "referential", "sequence", "health_gate", "drift",
    "column_stats", "partition_summary", "sink_write", "rollup_summary", "rollup_health",
    "conv_pairs", "normalize", "quality_gate", "exact_dedup", "minhash", "lsh", "clusters",
]
COUNTS = {
    "rules.fail_share": "ratio", "rules.violation_rows": "count", "uniqueness.rows": "count",
    "referential.rows": "count", "sequence.rows": "count", "health_gate.unhealthy_convs": "count",
    "sink_write.bytes": "B", "quality_gate.drop_share": "ratio", "lsh.candidate_pairs": "count",
    "conv_pairs.candidate_pairs": "count", "conv_pairs.verified_pairs": "count",
    "clusters.clustered_ids": "count",
}
STAGE = {"cpu_s": "s", "shuffle_bytes": "B", "spill_bytes": "B"}


def per_layer_units() -> dict[str, str]:
    units = {}
    for name in LAYER_SPANS:
        units[f"{name}.s"] = "s"
        units.update({f"{name}.{k}": u for k, u in STAGE.items()})
    units.update({f"pipeline.{k}": u for k, u in STAGE.items()})
    units.update({"pipeline.spark_jobs": "count", "pipeline.scan_passes": "ratio", "corpus_sink.s": "s"})
    units.update({f"corpus_sink.{k}": u for k, u in STAGE.items()})
    units["corpus.spark_jobs"] = "count"
    units.update(COUNTS)
    units["trace.overhead_s"] = "s"
    return units


def git_rev() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def session(trace: bool):
    from cerberus_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(parallelism=NPROC, app_name="perfbench", driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def release_checkpoints(spark) -> int:
    """Unpersist every persisted RDD (the compositions' localCheckpoint
    blocks, which outlive the job that made them); returns how many."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    n = rdds.size()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)
    return n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return f"n/a (n={n} < 11)"
    k = n - 11
    return f"p{100 * (k + 1) // n} = {sorted(xs)[k]:.4f} s (n={n})"


class Run:
    def __init__(self, args):
        from bench import read_cpu_ticks, steal_pct  # the repo's one steal sampler
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]()
        self.ticks, self.steal = read_cpu_ticks, steal_pct
        self.data = os.path.join(WORK, "input")
        self.sink = os.path.join(WORK, "sink")
        self.jobs: list[dict] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                             "seconds": args.seconds, "nproc": NPROC, "driver_memory": DRIVER_MEMORY,
                             "git_rev": git_rev()}

    def setup(self):
        import gen

        table, self.facts = self.wl.inputs(self.args.seed)
        t0 = time.perf_counter()
        gen.land(table, self.data, 2 * NPROC)
        spark = session(trace=False)
        df = spark.read.parquet(self.data)
        start = time.perf_counter() - t0
        self.record["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
        self.wl.reference(self.data, self.facts)
        self.warmup = self.measure(spark, df, 0, min_jobs=WARMUP_JOBS, record=False)
        self.setup_s = start + sum(j["wall_s"] for j in self.warmup)
        return spark, df

    def measure(self, spark, df, seconds: float, tracer=None, min_jobs: int = 1, record: bool = True) -> list[dict]:
        from procstat import cpu_delta, cpu_seconds

        me = os.getpid()
        jobs = []
        end = time.perf_counter() + seconds
        while len(jobs) < min_jobs or time.perf_counter() < end:
            s0, c0, t0 = self.ticks(), cpu_seconds(me), time.perf_counter()
            err = None
            try:
                if tracer is None:
                    self.wl.job(spark, df, self.sink)
                else:
                    with tracer.span(self.wl.full_span):
                        self.wl.job(spark, df, self.sink)
            except Exception as exc:  # a failed job is counted, not fatal
                err = f"{type(exc).__name__}: {exc}"[:2000]
            wall = time.perf_counter() - t0
            job = {"wall_s": wall, "cpu_s": cpu_delta(c0, cpu_seconds(me)),
                   "steal_pct": self.steal(s0, self.ticks()), "traced": tracer is not None}
            if err is None:
                ok, msg = self.wl.check(self.sink)
                err = None if ok else "output check: " + msg
            job["error"] = err
            job["checkpoint_rdds"] = release_checkpoints(spark)
            jobs.append(job)
        if record:
            self.jobs += jobs
        return jobs

    def trace_layers(self, spark, df) -> dict:
        from spans import Tracer

        half = self.args.seconds / 2
        plain = self.measure(spark, df, half)
        spark.stop()
        spark = session(trace=True)
        df = spark.read.parquet(self.data)
        tr = Tracer(spark.sparkContext)
        layer_sink = os.path.join(WORK, "layers")
        counts = self.wl.layers(spark, df, tr, layer_sink, self.facts["rows"])
        release_checkpoints(spark)
        traced = self.measure(spark, df, half, tracer=tr)
        spark.stop()
        stages = tr.stage_metrics(os.path.join(WORK, "eventlog"))
        self.record.update(spans=tr.spans, stages=stages)

        m = {k: 0.0 for k in per_layer_units()}
        m.update(counts)
        for name in LAYER_SPANS:
            secs = tr.seconds(name)
            if secs:
                m[f"{name}.s"] = sum(secs)
                for k in STAGE:
                    m[f"{name}.{k}"] = stages.get(name, {}).get(k, 0.0)
        full = self.wl.full_span
        n = len(traced)
        for k in STAGE:
            m[f"{full}.{k}"] = stages.get(full, {}).get(k, 0.0) / n
        jobs = stages.get(full, {}).get("jobs", 0.0) / n
        if full == "pipeline":
            m["pipeline.spark_jobs"] = jobs
            m["pipeline.scan_passes"] = stages.get(full, {}).get("input_records", 0.0) / n / self.facts["rows"]
        else:
            m["corpus_sink.s"] = median([j["wall_s"] for j in traced])
            m["corpus.spark_jobs"] = jobs
        m["trace.overhead_s"] = median([j["wall_s"] for j in traced]) - median([j["wall_s"] for j in plain])
        return m

    def end_to_end(self, mem_peak: int) -> dict:
        good = [j for j in self.jobs if j["error"] is None and not j["traced"]] or self.jobs
        wall = median([j["wall_s"] for j in good])
        return {
            "wall_s": wall,
            "rows_per_s": self.facts["rows"] / wall,
            "cpu_s": median([j["cpu_s"] for j in good]),
            "peak_rss_mb": mem_peak / 2**20,
            "setup_s": self.setup_s,
        }


def print_table(title: str, metrics: dict, units: dict) -> None:
    print(title)
    for k, v in metrics.items():
        print(f"  {k:34s} {v:>16.6g} {units[k]}")


def shutdown(children: list[int]) -> None:
    """Stop the JVM gateway and wait for it and its workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.2)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["validate_turns", "clean_docs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cerberus_spark", "__init__.py")):
        print(f"perfbench: no cerberus_spark package under {ROOT}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")  # overrides spark.local.dir
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    from procstat import MemPeak, tree

    run = Run(args)
    try:
        spark, df = run.setup()
        with MemPeak(os.getpid()) as mem:
            if args.trace:
                layer = run.trace_layers(spark, df)
            else:
                run.measure(spark, df, args.seconds)
                spark.stop()
        e2e = run.end_to_end(mem.peak)
    finally:
        shutdown([p for p in tree(os.getpid()) if p != os.getpid()])
        shutil.rmtree(WORK, ignore_errors=True)

    failed = sum(j["error"] is not None for j in run.jobs)
    correct = failed == 0 and all(j["error"] is None for j in run.warmup)
    units = per_layer_units() if args.trace else END_TO_END
    out = layer if args.trace else e2e
    run.record.update(facts=run.facts, setup_s=run.setup_s, warmup_jobs=run.warmup, jobs=run.jobs, end_to_end=e2e,
                      per_layer=layer if args.trace else None)
    os.makedirs(RUNS, exist_ok=True)
    rec = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rec, "w") as f:
        json.dump(run.record, f, indent=1, default=str)

    print(f"{args.workload} seed={args.seed} local[{NPROC}] rev={run.record['git_rev']} record={rec}")
    print("  input: " + json.dumps(run.facts))
    print_table("end to end:", e2e, END_TO_END)
    print(f"  {'failed_ratio':34s} {failed / len(run.jobs):>16.6g} ratio ({failed} of {len(run.jobs)} jobs)")
    print(f"  {'warm-up jobs (in setup_s)':34s} " + ", ".join(f"{j['wall_s']:.4g}" for j in run.warmup) + " s")
    walls = [j["wall_s"] for j in run.jobs if not j["traced"]]
    print(f"  {'wall_s tail':34s} {tail(walls)}")
    steals = [j["steal_pct"] for j in run.jobs if j["steal_pct"] is not None]
    print(f"  {'steal_pct (median per job)':34s} {median(steals):>16.6g} %")
    if args.trace:
        print_table("per layer:", layer, units)
    for j in run.warmup + run.jobs:
        if j["error"]:
            print(f"  job failed: {j['error']}")
    print(json.dumps({
        "correct": correct,
        "attempted": len(run.jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
