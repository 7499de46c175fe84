"""CPU time and memory of a process tree, read from ``/proc``.

The tree is the benchmark's own Python process and every descendant: the
Spark driver JVM and the Python workers it forks. CPU time of a child that
has exited and been waited for moves into its parent's ``cutime`` and
``cstime``, so summing all four fields over the live tree never loses or
double-counts it. Memory is proportional set size (Pss): a page shared by
k processes counts 1/k in each, so forked workers that share their
parent's pages add only what they own.
"""

from __future__ import annotations

import glob
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, found through each thread's
    ``children`` list."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        for path in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(path) as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system seconds of the tree, waited-for children included."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # the command name sits in parentheses and may contain spaces;
        # utime, stime, cutime, cstime are fields 14-17 of proc(5)
        total += sum(int(v) for v in raw[raw.rindex(")") + 2:].split()[11:15])
    return total / _TICK


def host_cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def tree_pss_mb(root: int) -> float:
    """Summed Pss of the tree."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


class PeakPss:
    """Samples the tree's summed Pss on a background thread while in a
    ``with`` block and keeps the largest value in ``peak_mb``. The thread
    is part of the tree it measures, so it keeps its own CPU seconds in
    ``cpu_s`` for the caller to subtract."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        t0 = time.thread_time()
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self.cpu_s = time.thread_time() - t0
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> PeakPss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
