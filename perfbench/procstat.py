"""CPU and resident memory of this process and all its descendants
(driver Python, the JVM, its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _comm_and_stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path, "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # comm may hold spaces or parens: the fields start after the LAST ')'
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _stat(pid: int) -> list[str] | None:
    got = _comm_and_stat(f"/proc/{pid}/stat")
    return None if got is None else got[1]


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """CPU seconds (user + system) of the live tree, plus what its
    processes have reaped from children that already exited (the
    short-lived Python workers)."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


#: Linux names of the JVM's JIT compiler threads (``C2 CompilerThread0``
#: truncated to the 15-character thread name).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_threads_cpu_s(pids: list[int] | None = None) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread in the tree, by
    thread id; compare two readings with ``jit_delta_s``. The JVM must
    run with ``-XX:-UseDynamicNumberOfCompilerThreads``: by default it
    retires idle compiler threads, and a retired thread's CPU would drop
    out of the reading."""
    out = {}
    for pid in pids if pids is not None else tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            got = _comm_and_stat(f"/proc/{pid}/task/{tid}/stat")
            if got is not None and got[0].startswith(JIT_THREADS):
                out[int(tid)] = (int(got[1][11]) + int(got[1][12])) / _TICK
    return out


def jit_delta_s(before: dict[int, float], after: dict[int, float]) -> float:
    """JIT CPU spent between two readings."""
    return sum(v - before.get(tid, 0.0) for tid, v in after.items())


def tree_pss_bytes(pids: list[int] | None = None) -> int:
    """Resident memory of the tree with shared pages counted once: the
    sum of each process's proportional set size. Forked Python workers
    share most of their pages with the daemon, so a plain RSS sum would
    jump with the number of workers alive at the moment of sampling."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


#: Seconds between two samples of the tree's memory.
SAMPLE_INTERVAL_S = 0.5


class MemorySampler:
    """Background sampler of ``tree_pss_bytes``; ``peak`` is the largest
    value seen since start."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(SAMPLE_INTERVAL_S)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_bytes())
        return self.peak


def cpu_times() -> list[int]:
    """The machine's aggregate ``cpu`` line of ``/proc/stat`` (ticks)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the machine's CPU time stolen by the hypervisor between
    two ``cpu_times`` readings (field 8 of the ``cpu`` line)."""
    total = sum(t1) - sum(t0)
    return (t1[7] - t0[7]) / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]
