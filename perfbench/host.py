"""Host facts and process-tree memory, read from /proc."""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings — noise from neighbours on a shared host."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


def host_facts() -> dict:
    return dict(nproc=nproc(), mem_total_mb=round(mem_total_mb(), 1),
                loadavg=loadavg())


def _descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM that pyspark launches,
    and the Python daemon and workers the JVM forks)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we scanned
        # comm may hold spaces or parens: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by the processes below ``root``: the JVM, the Python daemon and
    its workers.  Time the hypervisor gives to other guests is not
    counted, so this is the job's compute cost, not its wait."""
    ticks = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we scanned
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime..cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared between the forked Python
    workers and their daemon are split between them, not counted in
    full by each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass  # exited while we read it
    return 0.0


def tree_pss_mb(root: int) -> dict[str, list[float]]:
    """Resident memory (PSS) of each process below ``root``, grouped by
    command name.  ``root`` itself (the benchmark's own interpreter,
    holding the reference answers) is not counted."""
    out: dict[str, list[float]] = {}
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue  # exited while we scanned
        out.setdefault(comm, []).append(_pss_mb(pid))
    return out


class RssSampler:
    """Samples ``tree_pss_mb`` on a thread; ``peak()`` reads the highest
    summed sample since the last ``reset()``, and ``peak_breakdown`` the
    per-process figures of that sample."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self._root = root
        self._interval = interval_s
        self._lock = threading.Lock()
        self._peak = 0.0
        self.peak_breakdown: dict[str, list[float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        by_comm = tree_pss_mb(self._root)
        total = sum(sum(v) for v in by_comm.values())
        with self._lock:
            if total > self._peak:
                self._peak, self.peak_breakdown = total, by_comm

    def reset(self) -> None:
        with self._lock:
            self._peak, self.peak_breakdown = 0.0, {}

    def peak(self) -> float:
        self.sample()
        with self._lock:
            return self._peak
