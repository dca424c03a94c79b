"""CPU and resident memory of a process tree, read from ``/proc``.

A PySpark job is a tree: the driver interpreter, the JVM it launched, the
``pyspark.daemon`` the JVM forks, and the Python workers the daemon forks.
Workers come and go, and the JVM runs hundreds of threads. Two rules keep
the totals right:

- Walk processes, never threads. ``/proc`` lists only thread-group
  leaders at its top level, and ``/proc/<pid>/stat`` already sums every
  thread of the process. Listing threads as well (``pstree -p`` does)
  and summing their stat lines counts the JVM many times over.
- Count ``cutime``/``cstime`` too. A worker that exits is reaped by its
  parent, and its CPU moves into the parent's child-time fields; without
  them the CPU of every exited worker vanishes from the total.

Known limit: if a child is reaped between reading its own line and its
parent's, one snapshot counts it twice or not at all; the error is at most
that one process's CPU.

Memory is summed as PSS (``/proc/<pid>/smaps_rollup``), which divides each
shared page among the processes mapping it. Summed RSS would count shared
pages once per process: the Python workers share most of their pages with
the daemon they were forked from, and every helper process the JVM forks
briefly maps all of the JVM's memory, so a sample that lands on such a
fork reads twice the real footprint.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # utime + stime + cutime + cstime


def read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm sits in parentheses and may itself hold spaces or ')'
    close = data.rindex(")")
    comm = data[data.index("(") + 1 : close]
    fields = data[close + 2 :].split()
    # fields[0] is stat field 3 (state): field n lives at fields[n - 3]
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))  # fields 14..17
    return Proc(
        pid=pid,
        ppid=int(fields[1]),
        comm=comm,
        cpu_s=ticks / _CLK_TCK,
    )


def tree(root: int) -> dict[int, Proc]:
    """``root`` and all its live descendants, one entry per process."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out = {}
    stack = [root] if root in procs else []
    while stack:
        pid = stack.pop()
        out[pid] = procs[pid]
        stack.extend(children.get(pid, ()))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional resident set of ``pid``; 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def role(pid: int, procs: dict[int, Proc]) -> str:
    """``jvm`` for the Java process, ``pyworker`` for Python processes
    below it (daemon and workers), ``driver`` for everything else."""
    p = procs[pid]
    if p.comm == "java":
        return "jvm"
    q = procs.get(p.ppid)
    while q is not None:
        if q.comm == "java":
            return "pyworker"
        q = procs.get(q.ppid)
    return "driver"


def cpu_by_role(procs: dict[int, Proc]) -> dict[str, float]:
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, p in procs.items():
        out[role(pid, procs)] += p.cpu_s
    return out


#: JVM thread-name prefixes (``/proc/<pid>/task/<tid>/comm``) by group
_JVM_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 "),
    "tasks": ("Executor task l",),
}


def jvm_threads_cpu(pid: int) -> dict[str, float]:
    """CPU seconds of the JVM's JIT-compiler, GC and task threads. Only
    these long-lived groups are split out: a thread that has exited is
    gone from ``task/``, its CPU kept only in the process total."""
    out = dict.fromkeys(_JVM_THREADS, 0.0)
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                data = f.read()
        except FileNotFoundError:
            continue
        close = data.rindex(")")
        name = data[data.index("(") + 1 : close]
        fields = data[close + 2 :].split()
        for group, prefixes in _JVM_THREADS.items():
            if name.startswith(prefixes):
                out[group] += (int(fields[11]) + int(fields[12])) / _CLK_TCK
    return out


class Sampler:
    """Samples the tree under ``root`` on a background thread.

    ``mark()`` returns CPU seconds by role at that moment, plus the JVM's
    thread groups as ``jvm.<group>``; the difference of two marks is the
    CPU the tree spent between them, including any process that started
    or exited in between. ``peak_pss_bytes`` is the
    largest summed PSS seen since the last ``reset_peak()``, and
    ``peak_procs`` the (role, PSS) of each process at that moment."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self.peak_procs: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            procs = tree(self.root)
            pss = {pid: pss_bytes(pid) for pid in procs}
            total = sum(pss.values())
            with self._lock:
                if total > self._peak:
                    self._peak = total
                    self.peak_procs = {
                        pid: (role(pid, procs), n) for pid, n in pss.items()
                    }

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0
            self.peak_procs = {}

    @property
    def peak_pss_bytes(self) -> int:
        with self._lock:
            return self._peak

    def mark(self) -> dict[str, float]:
        procs = tree(self.root)
        out = cpu_by_role(procs)
        for pid, p in procs.items():
            if p.comm == "java":
                for group, s in jvm_threads_cpu(pid).items():
                    out[f"jvm.{group}"] = out.get(f"jvm.{group}", 0.0) + s
        return out
