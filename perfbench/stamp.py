"""Process-tree accounting from /proc: the contention stamp every run
carries, and the peak memory of the benchmark's process tree.

The stamp is measured the way the repo's ``bench.py`` measures it:
load average at start and end, ``cpu_cores_external`` = system-wide busy
cores minus this process tree's cores over the run (reaped children's
CPU included, so exited Python workers are not misread as external), and
``cpu_cores_steal`` from the steal field of /proc/stat.
"""

from __future__ import annotations

import os
import threading
import time


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu jiffies incl. reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                s = f.read()
            rest = s[s.rindex(")") + 2:].split()
            out[int(entry)] = (int(rest[1]),
                               sum(int(x) for x in rest[11:15]))
        except (OSError, ValueError, IndexError):
            continue    # process exited mid-scan
    return out


def descendants(root: int, table=None) -> list[int]:
    """``root`` and every live process below it."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Contention:
    """Start at construction, ``finish()`` returns the stamp."""

    def __init__(self):
        self.t0 = time.time()
        self.load0 = os.getloadavg()
        self.cpu0 = _cpu_line()
        self.self0 = self._self_jiffies()

    @staticmethod
    def _self_jiffies() -> int:
        table = _proc_table()
        return sum(table[p][1] for p in descendants(os.getpid(), table))

    def finish(self) -> dict:
        wall = time.time() - self.t0
        hz = os.sysconf("SC_CLK_TCK")
        cpu1 = _cpu_line()
        busy = [b - a for a, b in zip(self.cpu0, cpu1)]
        busy_total = sum(busy) - busy[3] - (busy[4] if len(busy) > 4 else 0)
        sys_cores = busy_total / (wall * hz)
        self_cores = (self._self_jiffies() - self.self0) / (wall * hz)
        return {
            "loadavg_start": [round(x, 2) for x in self.load0],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "cpu_cores_busy_system": round(sys_cores, 2),
            "cpu_cores_busy_self": round(self_cores, 2),
            "cpu_cores_external": round(max(0.0, sys_cores - self_cores), 2),
            "cpu_cores_steal": round(
                (busy[7] if len(busy) > 7 else 0) / (wall * hz), 2),
            "nproc": os.cpu_count(),
        }


def _pss_kib(pid: int) -> int:
    """Proportional set size: shared pages split among the processes
    that map them, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass    # process exited mid-read
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Samples the summed proportional RSS of this process tree (driver,
    JVM, Python workers) on a background thread until ``stop()``."""

    def __init__(self, interval: float = 0.5):
        self.peak_kib = 0
        self.at_peak: dict[str, int] = {}    # MiB per command name
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,),
                                        daemon=True)
        self._thread.start()

    def sample(self) -> None:
        per = {p: _pss_kib(p) for p in descendants(os.getpid())}
        kib = sum(per.values())
        if kib > self.peak_kib:
            self.peak_kib = kib
            self.at_peak = {_comm(p): 0 for p in per}
            for p, k in per.items():
                self.at_peak[_comm(p)] += k // 1024

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kib / 1024
