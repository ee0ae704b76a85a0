"""Peak resident memory and CPU time of a process tree, read from /proc.

The driver of a PySpark program is two trees of processes: the Python
interpreter and the JVM it launched, which in turn forks the Python
worker daemon and its workers. ``TreeRssSampler`` polls every
descendant of one root pid and keeps the highest summed VmRSS;
``tree_cpu_s`` sums their user and system time, with the JIT
compiler's share apart; ``wait_jit_idle`` waits for that compiler to
catch up.
"""

from __future__ import annotations

import os
import threading
import time
from typing import NamedTuple

_TICKS = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(stat: bytes, fields: slice) -> int:
    # the command name may hold spaces or parens: split after its ')'
    return sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[fields])


class Cpu(NamedTuple):
    work: float
    jit: float
    gc: float

    def __sub__(self, other: Cpu) -> Cpu:
        return Cpu(*(a - b for a, b in zip(self, other)))


# JVM thread names, as /proc shows them (cut to 15 characters)
_JIT = (b"C1 CompilerThre", b"C2 CompilerThre")
_GC = (b"GC Thread", b"G1 ")


def tree_cpu_s(root: int) -> Cpu:
    """User plus system CPU seconds of ``root`` and its live descendants,
    with those of their reaped children, so a worker that exits between
    two readings still counts, split into the JVM's JIT compiler threads
    (``jit``), its garbage-collector threads (``gc``) and everything else
    (``work``). Time the hypervisor stole is in none of them. The split
    needs compiler threads that live as long as the JVM
    (-XX:-UseDynamicNumberOfCompilerThreads): the CPU of a thread that
    has exited is no longer listed per thread."""
    work = jit = gc = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                work += _cpu_ticks(f.read(), slice(11, 15))
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited while being read
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            name = stat[stat.index(b"(") + 1 :]
            if name.startswith(_JIT):
                ticks = _cpu_ticks(stat, slice(11, 13))
                jit += ticks
                work -= ticks
            elif name.startswith(_GC):
                ticks = _cpu_ticks(stat, slice(11, 13))
                gc += ticks
                work -= ticks
    return Cpu(work / _TICKS, jit / _TICKS, gc / _TICKS)


def wait_jit_idle(root: int, quiet_s: float = 0.3, limit_s: float = 2.0) -> float:
    """Wait until the JIT compiler threads under ``root`` have used no CPU
    for ``quiet_s`` seconds, or ``limit_s`` has passed; return the seconds
    waited. On a loaded host the compiler falls behind, and code it has
    not compiled yet runs slower and costs more CPU."""
    stats = []
    for pid in descendants(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            path = f"/proc/{pid}/task/{tid}/stat"
            try:
                with open(path, "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index(b"(") + 1 :].startswith(_JIT):
                stats.append(path)

    def ticks() -> int:
        n = 0
        for path in stats:
            try:
                with open(path, "rb") as f:
                    n += _cpu_ticks(f.read(), slice(11, 13))
            except OSError:
                pass
        return n

    t0 = time.monotonic()
    last, still = ticks(), t0
    while (now := time.monotonic()) - t0 < limit_s:
        if now - still >= quiet_s:
            break
        time.sleep(0.05)
        cur = ticks()
        if cur != last:
            last, still = cur, time.monotonic()
    return time.monotonic() - t0


def tree_rss_mb(root: int) -> float:
    return sum(_rss_kb(p) for p in descendants(root)) / 1024.0


class TreeRssSampler:
    """Background poller; ``peak_mb`` is the highest tree total seen."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> TreeRssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
