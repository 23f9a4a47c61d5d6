"""Memory and CPU time of the benchmark's process tree, read from /proc.

The tree is this process and all its descendants: the Spark JVM and the
Python workers it forks.
"""

from __future__ import annotations

import os
import threading
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    out[int(pid)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass  # the process exited between listing and reading
    return out


def _tree(stats: dict[int, list[str]]) -> set[int]:
    root = os.getpid()
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, f in stats.items() if int(f[1]) == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot's names, cut to 15 characters


def _jit_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if s[s.index("(") + 1 : s.rindex(")")].startswith(JIT_THREADS):
            ticks += sum(int(x) for x in s.rsplit(")", 1)[1].split()[11:13])
    return ticks


def tree_cpu_s() -> float:
    """User plus system CPU seconds of the tree so far, counting exited
    children their parents have reaped, but not the JVM's JIT compiler
    threads: compiling is a warm-up cost whose timing differs from run
    to run, not work the program does per operation."""
    stats = _stats()
    ticks = 0
    for p in _tree(stats) & stats.keys():
        # fields after the name: utime, stime, cutime, cstime are 12..15
        ticks += sum(int(x) for x in stats[p][11:15]) - _jit_ticks(p)
    return TICK_S * ticks


def tree_pss() -> int:
    """Proportional set size of the tree in bytes: pages forked workers
    share with their parent count once."""
    total = 0
    for pid in _tree(_stats()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Samples ``tree_pss`` on a timer."""

    def __init__(self, interval_s: float = 1.0) -> None:
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []  # (perf_counter, bytes)
        self._stop_evt = threading.Event()

    def peak_mb(self, t0: float, t1: float) -> float:
        """Largest sample taken between perf_counter times t0 and t1."""
        return max((b for t, b in self.samples if t0 <= t <= t1), default=0) / 1e6

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.samples.append((time.perf_counter(), tree_pss()))
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)

