"""CPU and RSS of a process tree, read from ``/proc`` (psutil is not
installed).

The tree of a benchmark run is the harness process, the JVM that
spark-submit launches under it, and the JVM's pyspark daemon with the
Python workers it forks. CPU of a process that has exited stays visible
as its parent's ``cutime``/``cstime``, so the tree total only grows and a
difference of two readings is the CPU spent in between.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks of the process and its reaped children, rss pages),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: the fields start after the last ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return ppid, ticks, int(rest[21])


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def snapshot(root: int) -> dict[int, tuple[int, int, int]]:
    """``{pid: (ppid, ticks, rss_pages)}`` for ``root`` and every live
    descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in tree:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def cpu_seconds(root: int) -> float:
    """CPU seconds used so far by the tree under ``root``."""
    return sum(t for _, t, _ in snapshot(root).values()) / CLK_TCK


class Sampler:
    """Background thread that polls the tree's RSS and counts its pyspark
    daemon and worker processes; keeps the peaks."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self.peak_pyspark_procs = 0
        self.peak_split_mb: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        tree = snapshot(self.root)
        rss = sum(r for _, _, r in tree.values()) * PAGE_BYTES
        # the daemon and the workers it forks all run ``-m pyspark.daemon``
        py = [pid for pid in tree if "pyspark.daemon" in _cmdline(pid)]
        self.peak_pyspark_procs = max(self.peak_pyspark_procs, len(py))
        if rss > self.peak_rss_bytes:
            self.peak_rss_bytes = rss
            py_rss = sum(tree[p][2] for p in py) * PAGE_BYTES
            self.peak_split_mb = {
                "harness": tree[self.root][2] * PAGE_BYTES / 2**20,
                "pyspark": py_rss / 2**20,
                "pyspark_procs": len(py),
                "jvm": (rss - py_rss - tree[self.root][2] * PAGE_BYTES) / 2**20,
            }

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def descendants(root: int) -> list[int]:
    """Live processes under ``root``, itself excluded."""
    return [pid for pid in snapshot(root) if pid != root]
