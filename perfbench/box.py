"""Box stamp, contention canary and process-tree peak RSS sampler."""

from __future__ import annotations

import os
import threading
import time

# Contention canary: fixed NumPy sort + pure-Python loop work, one run at
# the start and one at the end. The reference is the min-of-5 on an idle
# 4-core / 15 GB VM (single runs read 0.26-0.33 s there); a reading above
# ratio × reference flags the run as contended.
CANARY_REF_SEC = 0.27
CANARY_CONTENDED_RATIO = 1.4
# A run whose CPUs lost more than this share of their time to steal is
# flagged contended too.
STEAL_CONTENDED_SHARE = 0.05


def canary_sec() -> float:
    import numpy as np

    t0 = time.perf_counter()
    a = np.random.default_rng(7).random(2_000_000)
    for _ in range(6):
        a = np.sort(a[::-1])
    s = 0
    for i in range(1_500_000):
        s += i * i
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat.
    Steal is time a virtual CPU was ready but the host ran something
    else; its share over a run says how much the host slowed the run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # comm may hold spaces: ppid is the 2nd field after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes, with each shared page split
    among the processes that map it (forked Python workers share most
    of their daemon's pages)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes (PSS) of ``root`` and all its descendants.

    A JVM child still named ``java`` is a process the JVM is spawning
    (``chmod``, the Python daemon) that has not yet exec'd: it shares
    the JVM's address space, so it is skipped rather than counted as a
    second JVM."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        comm = _comm(pid)
        for k in kids.get(pid, []):
            if not (comm == "java" and _comm(k) == "java"):
                todo.append(k)
        total += _pss_bytes(pid)
    return total


class PeakRss:
    """Samples this process tree's resident memory (driver Python, JVM,
    Python workers; see ``tree_rss_bytes``) every ``interval`` seconds
    on a daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False
