"""Process-tree CPU and RSS accounting from /proc.

Spark's executorCpuTime covers JVM task threads only. The ETL's
``literal_eval`` parse runs in Python worker processes that the JVM forks,
and plan building runs in the Python driver, so the end-to-end CPU figure
sums the whole tree under the benchmark process instead.

A process that exits and is reaped hands its CPU to its parent's
``cutime``/``cstime``. Summing ``utime+stime+cutime+cstime`` over the live
tree therefore keeps a delta between two snapshots exact even when Python
workers come and go between them.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

# CPU groups of the tree: the benchmark's own Python process, the Spark
# JVM, everything the JVM forked (pyspark daemon and workers), and the rest.
GROUPS = ("driver", "jvm", "pyworker", "other")


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own CPU ticks, reaped-children CPU ticks), or None when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses; it ends at the LAST ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1 : rpar]
    fields = raw[rpar + 2 :].split()
    # fields[0] is state; ppid utime stime cutime cstime are stat fields
    # 4, 14, 15, 16, 17 (1-based), i.e. fields[1], [11], [12], [13], [14]
    ppid = int(fields[1])
    own = int(fields[11]) + int(fields[12])
    children = int(fields[13]) + int(fields[14])
    return comm, ppid, own, children


def _all_stats() -> dict[int, tuple[str, int, int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(root: int, stats: dict | None = None) -> dict[int, tuple[str, int, int, int]]:
    """``root`` and all its live descendants, with their stat tuples."""
    stats = _all_stats() if stats is None else stats
    kids = defaultdict(list)
    for pid, (_comm, ppid, _own, _ch) in stats.items():
        kids[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids[pid])
    return out


def cpu_by_group(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU-seconds of the tree under ``root`` split by group.

    The first ``java`` process below ``root`` is the JVM. Its own ticks go
    to ``jvm``; its descendants and its reaped children go to
    ``pyworker``. ``root``'s own ticks go to ``driver``; every other
    process, and ``root``'s reaped children, go to ``other``."""
    root = os.getpid() if root is None else root
    procs = tree(root)
    parent = {pid: st[1] for pid, st in procs.items()}
    jvms = {pid for pid, st in procs.items() if st[0] == "java" and pid != root}

    def under_jvm(pid: int) -> bool:
        while pid in parent and pid != root:
            pid = parent[pid]
            if pid in jvms:
                return True
        return False

    ticks = dict.fromkeys(GROUPS, 0)
    for pid, (_comm, _ppid, own, children) in procs.items():
        if pid == root:
            ticks["driver"] += own
            ticks["other"] += children
        elif pid in jvms and not under_jvm(pid):
            ticks["jvm"] += own
            ticks["pyworker"] += children
        elif under_jvm(pid):
            ticks["pyworker"] += own + children
        else:
            ticks["other"] += own + children
    return {g: t / CLK_TCK for g, t in ticks.items()}


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {g: after[g] - before[g] for g in GROUPS}


def wait_idle(max_s: float = 3.0, cores: float = 0.5, root: int | None = None) -> float:
    """Wait until the tree under ``root`` uses less than ``cores`` CPUs
    (JIT and GC threads keep running after an action returns), or until
    ``max_s`` has passed. Returns the time waited."""
    t0 = time.perf_counter()
    last = sum(cpu_by_group(root).values())
    while time.perf_counter() - t0 < max_s:
        time.sleep(0.2)
        now = sum(cpu_by_group(root).values())
        if now - last < 0.2 * cores:
            break
        last = now
    return time.perf_counter() - t0


def rss_sum(statm: dict[int, str], parent: dict[int, int]) -> int:
    """Sum of resident pages over processes, given each one's
    ``/proc/<pid>/statm`` text and parent.

    A process whose statm reads exactly like its parent's is a clone that
    has not yet exec'd: the JVM spawns helper commands with
    ``clone(CLONE_VM)``, so for a moment the child reports the JVM's whole
    address space. Counting it would double the JVM in that sample."""
    return sum(int(text.split()[1]) for pid, text in statm.items()
               if text != statm.get(parent.get(pid)))


def tree_rss_bytes(root: int | None = None) -> int:
    """Sum of resident set sizes over the tree under ``root``."""
    procs = tree(os.getpid() if root is None else root)
    statm = {}
    for pid in procs:
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            pass
    return rss_sum(statm, {pid: st[1] for pid, st in procs.items()}) * PAGE


class RssSampler:
    """Polls the tree's RSS on a thread and keeps the peak.

    Use as a context manager around the measured region; ``peak_bytes``
    holds the largest sample, including one taken at entry and one at
    exit."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))

    def _poll(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
