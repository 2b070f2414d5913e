"""CPU and memory of a process tree, read from /proc.

The benchmark's tree is its own Python process, the driver JVM it launches
and the Python workers the JVM forks. CPU counts utime+stime of every live
process plus the time of children they have already reaped, so a worker that
exits inside a window keeps its CPU in its parent's total.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> /proc stat fields (state onward) for `root` and its descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(name)
            if f is not None:
                stats[int(name)] = f
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    # fields after the name: utime=11, stime=12, cutime=13, cstime=14
    return sum(sum(int(x) for x in f[11:15])
               for f in tree(root).values()) / TICK


def tree_rss_mb(root: int) -> tuple[float, float]:
    """(RSS of the whole tree, RSS of its processes other than the root and
    the JVM, i.e. the Python workers), in MB."""
    t = tree(root)
    total = sum(int(f[21]) for f in t.values())
    jvm = sum(int(f[21]) for pid, f in t.items() if _comm(pid) == "java")
    return total * PAGE / 1e6, (total - jvm - int(t[root][21])) * PAGE / 1e6


def _comm(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return ""


def box_cpu_s() -> float:
    """Busy CPU seconds of the whole machine (every core) since boot."""
    parts = Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]
    busy = sum(int(x) for i, x in enumerate(parts[:8]) if i not in (3, 4))
    return busy / TICK


class Sampler:
    """Tracks the tree's peak RSS from a background thread while active."""

    def __init__(self, root: int, period_s: float = 0.05):
        self.root = root
        self.period_s = period_s
        self.peak_rss_mb = 0.0
        self.peak_worker_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "Sampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def _sample(self) -> None:
        total, workers = tree_rss_mb(self.root)
        self.peak_rss_mb = max(self.peak_rss_mb, total)
        self.peak_worker_rss_mb = max(self.peak_worker_rss_mb, workers)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
