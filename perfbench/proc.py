"""Process-tree and host accounting read from ``/proc``.

CPU is counted per process as ``utime + stime + cutime + cstime``: a
child that exited and was reaped by a live ancestor is still counted
through that ancestor's child times. The Spark driver JVM is a child of
the benchmark's Python process and the PySpark worker daemon a child of
the JVM, so one walk from the benchmark's pid covers the engine.
"""

from __future__ import annotations

import os
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree(root: int | None = None, exclude: tuple[int, ...] = ()) -> list[int]:
    """``root`` and its live descendants, minus ``exclude`` subtrees."""
    root = root or os.getpid()
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def cpu_s(pid: int, with_children: bool = True) -> float:
    st = _stat(pid)
    if st is None:
        return 0.0
    fields = (11, 12, 13, 14) if with_children else (11, 12)
    return sum(int(st[i]) for i in fields) / TICK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


# JVM thread names (``/proc/<pid>/task/<tid>/comm``, 15 characters)
_JIT = ("C1 CompilerThre", "C2 CompilerThre")
_GC = ("GC Thread", "G1 ")


def _jvm_threads(pid: int) -> tuple[float, float]:
    """(JIT compiler, garbage collector) CPU seconds of a JVM's live
    threads. HotSpot retires idle compiler threads beyond the first of
    each kind, so the JIT figure misses what retired ones spent; it is a
    diagnostic, and the process total still counts every thread."""
    jit = gc = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return jit, gc
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read()
            if not name.startswith(_JIT + _GC):
                continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        t = (int(st[11]) + int(st[12])) / TICK
        if name.startswith(_JIT):
            jit += t
        else:
            gc += t
    return jit, gc


def cpu_split(exclude: tuple[int, ...] = ()) -> dict[str, float]:
    """CPU seconds so far of the benchmark's tree, split into the
    driver Python process, the JVM (its JIT compiler and garbage
    collector threads apart) and the Python workers under it."""
    me = os.getpid()
    out = {"driver_python": cpu_s(me, with_children=False), "jvm": 0.0,
           "jvm_jit": 0.0, "jvm_gc": 0.0, "python_workers": 0.0}
    for pid in _children(me):
        if pid in exclude:
            continue
        for p in tree(pid, exclude):
            # spark-submit's shell wrapper execs java in place, so the
            # direct child is the JVM; everything below it is PySpark's
            # worker daemon and its forked workers
            if p == pid or _comm(p) == "java":
                jit, gc = _jvm_threads(p)
                out["jvm"] += cpu_s(p) - jit - gc
                out["jvm_jit"] += jit
                out["jvm_gc"] += gc
            else:
                out["python_workers"] += cpu_s(p)
    return out


def tree_cpu(exclude: tuple[int, ...] = ()) -> float:
    return sum(cpu_split(exclude).values())


def peak_rss_mb(exclude: tuple[int, ...] = ()) -> float:
    """Sum of per-process peak resident set (``VmHWM``) over the tree."""
    kb = 0
    for pid in tree(exclude=exclude):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_times() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole host so far."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def process_start_epoch() -> float:
    """Wall-clock time this process was started by the kernel."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + int(st[19]) / TICK


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    end = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < end:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"
