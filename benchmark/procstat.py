"""Process-tree CPU time and resident memory, read from ``/proc``.

The program under test is the Python driver (this process) plus the
driver JVM it launches and the JVM's children (the PySpark daemon and its
Python workers).  CPU is utime+stime, plus cutime+cstime for processes
whose children have exited and been reaped, so finished workers still
count.  No psutil: only ``/proc/<pid>/stat`` and ``/proc/<pid>/status``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(b")") + 2:].decode().split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _cpu(pid: int, with_children: bool) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # fields after comm: state=0, ppid=1, ..., utime=11, stime=12, cutime=13, cstime=14
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def _field_kb(path: str, key: str) -> int:
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _hwm_kb(pid: int) -> int:
    return _field_kb(f"/proc/{pid}/status", "VmHWM:")


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared after fork count once overall."""
    return _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")


@dataclass
class CpuSample:
    driver_s: float    # this Python process (the client driver)
    jvm_s: float       # the driver JVM itself
    workers_s: float   # the JVM's descendants: PySpark daemon + Python workers

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.workers_s

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.driver_s - other.driver_s, self.jvm_s - other.jvm_s,
                         self.workers_s - other.workers_s)

    def __add__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(self.driver_s + other.driver_s, self.jvm_s + other.jvm_s,
                         self.workers_s + other.workers_s)


class ProcTree:
    """CPU and memory of this process plus the JVM tree rooted at ``jvm_pid``."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_rss_kb = 0
        self.peak_parts_kb: dict[str, int] = {}

    def cpu(self) -> CpuSample:
        # reaped JVM children land in the JVM's cutime: count them as workers
        jvm_all = _cpu(self.jvm_pid, with_children=True)
        jvm_self = _cpu(self.jvm_pid, with_children=False)
        workers = sum(_cpu(p, with_children=True) for p in descendants(self.jvm_pid))
        return CpuSample(_cpu(os.getpid(), with_children=False), jvm_self,
                         workers + jvm_all - jvm_self)

    def sample_rss(self) -> int:
        """Record and return the tree's resident memory: the JVM's high-water
        mark plus the current proportional set size of this process and of
        the Python workers (forked from one daemon, so they share pages)."""
        parts = {"driver": _pss_kb(os.getpid()),
                 "jvm": _hwm_kb(self.jvm_pid),
                 "workers": sum(_pss_kb(p) for p in descendants(self.jvm_pid))}
        kb = sum(parts.values())
        if kb > self.peak_rss_kb:
            self.peak_rss_kb, self.peak_parts_kb = kb, parts
        return kb
