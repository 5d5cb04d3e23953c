"""CPU time and resident memory of this process tree, read from /proc.

The tree is the benchmark's own Python process, the Spark JVM it launches
and the Python workers that JVM forks. CPU counts each process's own
and reaped children's time, so work of a worker that exited inside a
measured interval is still counted (it moves into its parent's
``cutime``).
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after its closing parenthesis
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[str]:
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                children.setdefault(st[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in _tree(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def host_busy_cpus(window_s: float) -> float:
    """CPUs' worth of work this machine ran over the next ``window_s``
    seconds (user, nice, system, irq and softirq time, /proc/stat)."""

    def busy() -> int:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq = f.readline().split()[1:8]
        return sum(int(x) for x in (user, nice, system, irq, softirq))

    b0, t0 = busy(), time.time()
    time.sleep(window_s)
    return (busy() - b0) / _TICK / (time.time() - t0)


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to others while this machine's
    CPUs wanted to run, summed over all CPUs (steal, /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _pss_mb(pid: str) -> float | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, ValueError):
        return None
    return None


def tree_rss(root: int | None = None) -> dict[str, float]:
    """Resident MB of each live process of the tree, keyed "comm/pid".

    Each process counts its proportional share (PSS) of pages it shares:
    workers forked from one daemon share their imports, and a child the
    JVM forks holds a copy of the JVM's pages until it execs, so summing
    plain RSS would count those pages more than once."""
    out = {}
    for pid in _tree(root or os.getpid()):
        mb = _pss_mb(pid)
        if mb is not None:
            out[f"{_comm(pid)}/{pid}"] = mb
    return out


def alive(pid: str) -> bool:
    """The process exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def live_descendants(root: int | None = None) -> list[str]:
    me = str(root or os.getpid())
    return [p for p in _tree(int(me)) if p != me and alive(p)]


def other_jvms() -> list[str]:
    """Live java processes that are not part of this tree."""
    mine = set(_tree(os.getpid()))
    found = []
    for pid in os.listdir("/proc"):
        if pid.isdigit() and pid not in mine and _comm(pid) == "java" and alive(pid):
            found.append(pid)
    return found


class PeakRss:
    """Samples the tree's summed RSS on a background thread while the
    context is open; ``peak_mb`` is the largest sum seen and
    ``peak_split`` the per-process split of that sample.

    Reading a process's ``smaps_rollup`` walks its page tables under its
    memory-map lock: for the Spark JVM that takes some 15 ms on a 4-vCPU
    host, during which the JVM cannot fault pages in. Sampling at 2 Hz
    rather than 10 Hz makes that stall a fifth as frequent."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_split: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_pid = tree_rss()
        total = sum(by_pid.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_split = total, by_pid

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
