"""Process-tree CPU and RSS from /proc, for the benchmark process, its JVM
child and the JVM's Python workers.

CPU of the tree is the sum over its live processes of utime + stime +
cutime + cstime: a finished worker's time has moved into its (live) parent's
cutime once reaped, so nothing is counted twice or lost. The host-wide
``/proc/stat`` counters are not used, because other tenants' load shows in
them.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    return comm, int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def tree(root: int | None = None) -> dict[int, tuple[str, int, float]]:
    """Every live process descending from ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                procs[int(name)] = s
    keep = {root} if root in procs else set()
    changed = True
    while changed:
        changed = False
        for pid, (_, ppid, _) in procs.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return {pid: procs[pid] for pid in keep}


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds so far: ``driver`` (this process), ``jvm`` (java
    processes) and ``python_workers`` (every other descendant)."""
    root = os.getpid() if root is None else root
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0}
    for pid, (comm, _, cpu) in tree(root).items():
        if pid == root:
            out["driver"] += cpu
        elif comm == "java":
            out["jvm"] += cpu
        else:
            out["python_workers"] += cpu
    out["total"] = sum(out.values())
    return out


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (all vCPUs): the
    ``steal`` column of /proc/stat. Recorded with each result because it
    explains run-to-run spread the program did not cause."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _anon_bytes(pid: int) -> int:
    """Anonymous plus shared-memory resident bytes. File-backed pages (the
    same libraries mapped by every Python worker) are left out; /proc/<pid>/
    status is read, not smaps, which would hold the JVM's mmap lock."""
    total = 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(("RssAnon:", "RssShmem:")):
                    total += int(line.split()[1]) * 1024
    except OSError:
        pass
    return total


def rss_bytes(root: int | None = None) -> int:
    """Summed anonymous resident memory of the process tree."""
    return sum(_anon_bytes(pid) for pid in tree(root))


class Sampler:
    """Background thread recording the tree's peak summed anonymous RSS;
    CPU is read as start/stop deltas."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> Sampler:
        self.cpu0 = cpu_split()
        self.steal0 = host_steal_s()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss = max(self.peak_rss, rss_bytes())
        end = cpu_split()
        self.cpu = {k: end[k] - self.cpu0[k] for k in end}
        self.steal = host_steal_s() - self.steal0
