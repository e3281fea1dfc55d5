#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line on stdout).

Two workloads:
  1. HEADLINE — the north-rule job: full rule-set + uniqueness +
     referential + drift validation of a deterministic synthetic
     transcript table (conv_id, turn_idx, role, text, tool, ts),
     sized ~7.15 turns/conv with the conv count scaled to the chosen
     sf.  Reported as wall seconds (``value``) and turns/sec.
  2. QUERIES — every ``__spark_entry__.queries()`` entry at
     ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
     materialized through the noop sink so Catalyst can't prune the
     measured compute.

Env:  SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default: the usable cores),
      BENCH_SKIP_QUERIES=1 to run only the headline pipeline.

This file stays single-config so per-round numbers are comparable.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
TMP = os.path.join(REPO, ".bench_tmp")
# Shuffle scratch + violations sink on tmpfs: executor-local-disk
# stand-in.  This sandbox has ONE virtio disk shared by all 32 cores;
# on a real cluster shuffle files and sink parts go to per-executor
# local SSDs (IO bandwidth scales with executors).  Measured r5: the
# conv-window stage serialized on the shared ext4 scratch (~15 s at 32
# cores at 57M turns) vs ~5 s with spark.local.dir on /dev/shm at
# near-zero physical disk writes — see BASELINE.md §BENCH
# (`perfbench/run.py --trace 1` times each layer today).
SHM = "/dev/shm" if os.path.isdir("/dev/shm") else TMP
SHM_SCRATCH = os.path.join(SHM, "cerberus_bench_scratch")

#: transcript conversations per unit sf (sf0.1 -> 150k convs ~ 1.07M turns)
CONVS_PER_SF = 1_500_000


def parse_sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def read_cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat, or None off-Linux.

    Recorded alongside every run so a future reader can separate code
    regressions from hypervisor-steal weather WITHOUT re-running (this
    VM shows bursty 3-16%% steal; see BASELINE.md §BENCH history)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] <= before[1]:
        return None
    return round(100.0 * (after[0] - before[0]) / (after[1] - before[1]), 2)


def bench_transcripts(spark, sf: float) -> dict:
    from cerberus_spark.pipeline import run_full_validation
    from cerberus_spark.sources.transcripts import generate_transcripts

    n_convs = max(int(CONVS_PER_SF * sf), 1000)
    path = os.path.join(TMP, f"transcripts_sf{sf}")
    # generation is outside the timed window: the workload under test is
    # "validate an existing table", so land the data in parquet first
    gen = generate_transcripts(spark, n_convs)
    gen.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    n_turns = df.count()

    # warm the Python executor pool + broadcast machinery so the timed
    # window measures steady-state throughput, not one-time JVM/worker
    # spin-up (on a long-lived cluster these are paid once per executor)
    import pandas as pd

    def _ident(batches):
        for b in batches:
            yield pd.DataFrame({"n": [len(b)]})

    df.limit(32).select("turn_idx").repartition(32).mapInPandas(
        _ident, schema="n long"
    ).write.format("noop").mode("overwrite").save()

    # best-of-5: this VM shows bursty hypervisor CPU steal (up to ~16%
    # in spikes, sometimes minutes long); the minimum is the
    # least-interference estimate of the job's actual cost, and five
    # trials give a materially better chance of catching a quiet window
    # than three (identical code measured 4.5s and 10.5s best-of-3 in
    # adjacent hours purely on steal weather)
    walls, steals = [], []
    for _ in range(5):
        s0 = read_cpu_ticks()
        t0 = time.perf_counter()
        # sequence_checks=True: the north-rule workload validates
        # TRANSCRIPTS — the role-transition/ordering family and the
        # per-conversation health gate belong in the benched job
        # (r5; headline rows before r5 exclude them)
        run_full_validation(
            spark, df, sink_dir=os.path.join(SHM_SCRATCH, "sink"),
            sequence_checks=True,
        )
        walls.append(time.perf_counter() - t0)
        steals.append(steal_pct(s0, read_cpu_ticks()))
    wall = min(walls)
    return {
        "transcript_convs": n_convs,
        "transcript_turns": n_turns,
        "pipeline_runs_sec": [round(w, 3) for w in walls],
        "pipeline_steal_pct": steals,
        "pipeline_sec": round(wall, 3),
        "turns_per_sec": round(n_turns / wall, 1),
    }


def bench_queries(spark) -> dict[str, float]:
    import __spark_entry__ as entry
    from cerberus_spark.pipeline import materialize

    timings: dict[str, float] = {}
    for name, fn in entry.queries().items():
        best = float("inf")
        for _ in range(2):  # best-of-2: absorb steal bursts + cold JIT
            t0 = time.perf_counter()
            materialize(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    return timings


def main() -> None:
    from cerberus_spark.session import get_spark

    sf = parse_sf(SF_DIR)
    spark = get_spark(
        parallelism=CPUS,
        app_name="cerberus_bench",
        extra_conf={"spark.local.dir": os.path.join(SHM_SCRATCH, "local")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    run_s0 = read_cpu_ticks()
    head = bench_transcripts(spark, sf)
    queries = {} if os.environ.get("BENCH_SKIP_QUERIES") else bench_queries(spark)
    run_steal = steal_pct(run_s0, read_cpu_ticks())

    spark.stop()
    shutil.rmtree(TMP, ignore_errors=True)
    shutil.rmtree(SHM_SCRATCH, ignore_errors=True)
    result = {
        "metric": "turns validated/sec (full rule-set + uniqueness + referential + column stats + drift + sequence/conversation checks)",
        "value": head["pipeline_sec"],
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": CPUS,
        **head,
        "queries_total_sec": round(sum(queries.values()), 3),
        "run_steal_pct": run_steal,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
