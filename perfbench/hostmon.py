"""Host facts and /proc sampling for the benchmark's own process tree.

The tree is this Python process plus every descendant: the Spark JVM
(spark-submit execs java), its Python worker daemon and the forked
workers. Two uses:

* ``TreeSampler`` polls the tree's resident memory (proportional set
  size, so shared pages count once) in a background thread and keeps the
  peak (``peak_rss_mb``).
* ``cpu_sample()`` pairs one ``/proc/stat`` reading with the tree's CPU
  ticks, so ``ambient()`` can split host busy time into the benchmark's
  own load and everyone else's, and report steal on its own.
"""
from __future__ import annotations

import os
import platform
import subprocess
import threading


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_bytes(pids: list[int]) -> int:
    """Proportional set size of the tree: pages shared between processes
    (the forked Python workers and their daemon) are counted once."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            pass
    return total


def tree_cpu_ticks(pids: list[int]) -> int:
    """utime+stime of every live tree process plus the reaped-children
    totals (cutime+cstime), so exited Python workers still count."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total


def _proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal (guest is folded in)
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_sample() -> tuple[list[int], int]:
    return _proc_stat(), tree_cpu_ticks(tree_pids())


def ambient(a: tuple[list[int], int], b: tuple[list[int], int]) -> dict:
    host = [y - x for x, y in zip(a[0], b[0])]
    total = sum(host) or 1
    busy = total - host[3] - host[4] - host[7]
    own = max(0, b[1] - a[1])
    return {
        "busy_pct": round(100 * busy / total, 1),
        "own_pct": round(100 * min(own, busy) / total, 1),
        "ambient_pct": round(100 * max(0, busy - own) / total, 1),
        "steal_pct": round(100 * host[7] / total, 1),
    }


class TreeSampler:
    """Background poll of the tree's resident memory; ``peak_mb`` is the
    maximum seen since ``reset()``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_pss_bytes(tree_pids()))

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        self.peak = tree_pss_bytes(tree_pids())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def host_info() -> dict:
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        java = "unknown"
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }
