"""Self-test of the process-tree sampler: forked children that exit are
still counted, threads are not counted twice.

Run: ``python3 -m pytest perfbench/test_proctree.py -q`` or
``python3 perfbench/test_proctree.py``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import proctree  # noqa: E402

# a parent that forks a child which burns 0.6 s of CPU and exits (reaped
# by the parent); the parent itself stays nearly idle
_FORK_CHILD = r"""
import os, time
pid = os.fork()
if pid == 0:
    t0 = time.process_time()
    while time.process_time() - t0 < 0.6:
        pass
    os._exit(0)
os.waitpid(pid, 0)
print("ready", flush=True)
time.sleep(60)
"""

# one process burning 0.4 s of CPU on each of four threads
_THREADS = r"""
import threading, time
def spin():
    t0 = time.thread_time()
    while time.thread_time() - t0 < 0.4:
        pass
ts = [threading.Thread(target=spin) for _ in range(4)]
for t in ts: t.start()
for t in ts: t.join()
print("ready", flush=True)
time.sleep(60)
"""


def _settled_tree(code: str) -> tuple[int, dict]:
    proc = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline().strip() == "ready"
        return proc.pid, proctree.tree(proc.pid)
    finally:
        proc.kill()
        proc.wait(timeout=10)
        proc.stdout.close()


def test_counts_reaped_children():
    pid, procs = _settled_tree(_FORK_CHILD)
    # the forked child exited and was reaped: only the parent is left,
    # and the child's CPU is there through the parent's cutime/cstime
    assert list(procs) == [pid]
    assert 0.55 <= procs[pid].cpu_s <= 1.2, procs[pid].cpu_s
    assert proctree.cpu_by_role(procs)["driver"] == procs[pid].cpu_s


def test_counts_threads_once():
    pid, procs = _settled_tree(_THREADS)
    # 4 x 0.4 s of thread CPU plus interpreter start-up, counted once
    assert 1.55 <= procs[pid].cpu_s <= 2.4, procs[pid].cpu_s


def test_tree_lists_processes_not_threads():
    procs = proctree.tree(os.getpid())
    assert os.getpid() in procs
    tids = {int(t) for t in os.listdir(f"/proc/{os.getpid()}/task")}
    # thread ids other than the leader never appear as tree entries
    assert not (tids - {os.getpid()}) & set(procs)


def test_sampler_peak_pss_and_marks():
    with proctree.Sampler(os.getpid(), interval_s=0.02) as s:
        m0 = s.mark()
        t0 = time.process_time()
        while time.process_time() - t0 < 0.3:
            pass
        time.sleep(0.1)
        m1 = s.mark()
        assert s.peak_pss_bytes > 0
    assert m1["driver"] - m0["driver"] >= 0.25


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
