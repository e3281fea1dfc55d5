"""Benchmark-side spans and Spark event-log attribution.

A span wraps one call into a layer.  While it is open, the Spark jobs
the calling thread submits carry the span's name as their job group;
jobs submitted from other threads (``run_full_validation`` runs its
actions on a thread pool) are attributed to the innermost span open at
their submission time.  ``SparkListenerStageCompleted`` task metrics are
then summed per span name.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = {"id": len(self.spans), "name": name, "parent": parent and parent["id"], "start": time.time()}
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._open.pop()
            if parent:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def seconds(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def _innermost(self, t: float) -> str | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best and best["name"]

    def stage_metrics(self, event_dir: str) -> dict[str, dict[str, float]]:
        """Per span name: Spark jobs, executor CPU seconds, shuffle bytes
        written, bytes spilled to disk and input records read (records,
        not bytes: this Spark counts only parquet footers in bytesRead).
        Executor CPU covers the JVM task threads only, not the Python
        workers an Arrow UDF runs in."""
        stage_label: dict[int, str] = {}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        # Spark 4 writes rolling logs: one directory per app, files events_<n>_<app>
        paths = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        label = group or self._innermost(ev["Submission Time"] / 1000)
                        if label is None:
                            continue
                        out[label]["jobs"] += 1
                        for sid in ev["Stage IDs"]:
                            stage_label.setdefault(sid, label)
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        label = stage_label.get(info["Stage ID"])
                        if label is None:
                            continue
                        acc = {a["Name"]: a.get("Value", 0) for a in info.get("Accumulables", [])}

                        def num(key: str) -> float:
                            try:
                                return float(acc.get(key, 0))
                            except (TypeError, ValueError):
                                return 0.0

                        m = out[label]
                        m["cpu_s"] += num("internal.metrics.executorCpuTime") / 1e9
                        m["shuffle_bytes"] += num("internal.metrics.shuffle.write.bytesWritten")
                        m["spill_bytes"] += num("internal.metrics.diskBytesSpilled")
                        m["input_records"] += num("internal.metrics.input.recordsRead")
        return {k: dict(v) for k, v in out.items()}

