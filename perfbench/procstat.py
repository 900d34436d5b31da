"""Process-tree CPU and memory from ``/proc`` (no psutil).

The tree is this Python process, the Spark JVM it launched and the
JVM's Python workers: every process whose parent chain reaches the
root pid.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces; the fields after it are space separated
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parent[int(entry)] = int(st[1])
    out = []
    for pid in parent:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 1)
        if p == root:
            out.append(pid)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, including reaped children (a
    finished Python worker's CPU moves into its parent's cutime)."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 1e6


class RssSampler:
    """Samples the tree's resident memory on a thread; ``peak_mb`` is
    the maximum seen since the last ``reset``."""

    INTERVAL_S = 0.1

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def sample(self) -> float:
        mb = tree_rss_mb(self.root)
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)
        return mb

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0
        self.sample()


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])
