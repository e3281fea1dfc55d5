"""CPU time and resident memory of the benchmark's process tree (this
Python process, the Spark JVM it launches and the JVM's Python
workers), read from ``/proc``.

Memory is the summed proportional set size (PSS), not RSS: a process
the JVM forks shares all of the JVM's pages until it execs, and summed
RSS would count those pages twice whenever a sample lands in between."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> dict[int, float]:
    """User + system CPU per process of the tree, each including its
    reaped children."""
    out = {}
    for pid in tree(root):
        st = _stat(pid)
        if st:  # fields 14-17 of stat: utime stime cutime cstime
            out[pid] = sum(int(x) for x in st[11:15]) / _TICK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU spent between two :func:`cpu_seconds` readings; a process
    that started in between counts from zero."""
    return sum(t - before.get(pid, 0.0) for pid, t in after.items())


def pss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
        except (OSError, ValueError, StopIteration):
            pass
    return total


class MemPeak:
    """Samples the tree's summed PSS on a background thread; ``peak`` is
    the highest sample seen while running.  The process list is
    refreshed once a second so workers started mid-job are counted."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, n = tree(self.root), 0
        while not self._stop.wait(self.interval_s):
            n += 1
            if n % int(1 / self.interval_s) == 0:
                pids = tree(self.root)
            self.peak = max(self.peak, pss_bytes(pids))

    def __enter__(self) -> "MemPeak":
        self.peak = pss_bytes(tree(self.root))
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
