"""CPU, memory and load readings for a process tree, from Linux ``/proc``.

The engine's work happens in the driver JVM and in the Python worker
processes Spark forks below it, so every reading here is taken over the
tree rooted at the JVM's pid. CPU counts ``cutime``/``cstime`` too: a
worker that exits is reaped by its parent (the PySpark daemon), whose
children-times then carry the worker's CPU, so no work is lost when
workers come and go during a pass.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, or None if
    the process is gone. ``comm`` may hold spaces and parentheses, so split
    at the last ``)``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLK_TCK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE_BYTES
        except OSError:
            pass
    return total


def hwm_bytes(pid: int) -> int:
    """Peak resident set (``VmHWM``) of one process since it started."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def host_ticks() -> tuple[int, int]:
    """(stolen, busy) clock ticks of all CPUs since boot, from ``/proc/stat``.
    Stolen ticks are those in which a CPU of this guest had work to run and
    the hypervisor ran another guest instead; busy ticks are those it ran
    work (user, nice, system, irq, softirq; guest time is inside user)."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:9]]
    return f[7], f[0] + f[1] + f[2] + f[5] + f[6]


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of the time this guest's CPUs wanted to run between two
    ``host_ticks`` readings that the hypervisor gave to other guests."""
    stolen, busy = after[0] - before[0], after[1] - before[1]
    return stolen / (stolen + busy) if stolen + busy else 0.0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


class RssPeak:
    """Background sampler of the tree's summed resident set.

    Use as a context manager around the measured work; ``peak`` is the
    largest sum seen, never below the root's own exact ``VmHWM``."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(tree(self.root)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, hwm_bytes(self.root))
