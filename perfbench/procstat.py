"""Resident memory and CPU time of this process and its descendants, read
from ``/proc`` (the JVM that Spark's local mode starts and its Python
workers are all descendants of the benchmark process), and two gauges of
the host: CPU time stolen by the hypervisor, and the speed of a fixed loop."""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.2  # MemorySampler's sampling interval


def _stat(pid: int):
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes, executable)
    or None.  The executable is read first: a child that execs between the
    two reads then shows its post-exec memory, never its parent's."""
    try:
        exe = os.readlink(f"/proc/{pid}/exe")
    except OSError:
        exe = None
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _CLK  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    return comm, ppid, cpu, rss, exe


def host_steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests (``steal`` in
    /proc/stat), summed over every CPU since boot; 0 where not reported."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def host_ref_s() -> float:
    """Seconds a fixed pure-Python loop takes, best of five: a gauge of how
    fast the host's CPUs run at the moment, to tell host drift from a
    change in the program."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        best = min(best, time.perf_counter() - t0)
    return best


def tree() -> dict[int, tuple]:
    """pid -> (comm, ppid, cpu_s, rss_bytes, exe) for this process and its
    descendants.  A child of the JVM that still runs the JVM's executable
    is left out: the JVM starts processes by vfork, and until the child
    execs it shares the JVM's memory and reports all of it as its own."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    keep, frontier = {}, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, st in table.items():
        children.setdefault(st[1], []).append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in table:
            keep[pid] = table[pid]
            for c in children.get(pid, []):
                if table[pid][0] != "java" or table[c][4] != table[pid][4]:
                    frontier.append(c)
    return keep


def tree_cpu_s() -> float:
    return sum(st[2] for st in tree().values())


class MemorySampler:
    """Background sampler of the process tree's summed RSS.  Records the
    peak total, the peak of the JVM, and the peak summed RSS of the Python
    processes under the JVM (Spark's Python workers)."""

    def __init__(self):
        self.peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self.pyworkers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        t = tree()
        total = sum(st[3] for st in t.values())
        jvms = {pid for pid, st in t.items() if st[0] == "java"}
        jvm = sum(t[p][3] for p in jvms)
        workers = 0
        for pid, st in t.items():
            if not st[0].startswith("python"):
                continue
            p = st[1]
            while p in t and p not in jvms:
                p = t[p][1]
            if p in jvms:
                workers += st[3]
        self.peak_mb = max(self.peak_mb, total / 1e6)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm / 1e6)
        self.pyworkers_peak_mb = max(self.pyworkers_peak_mb, workers / 1e6)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
