"""Process-tree readings from ``/proc``: CPU seconds, resident memory and
the PySpark Python worker processes of this benchmark process, its JVM
and every worker they fork, plus the machine's load and steal time."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float, float, float] | None:
    """(state, ppid, own CPU s, reaped-children CPU s, rss MB) of one
    process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    own = (int(fields[11]) + int(fields[12])) / _TICK  # utime stime
    reaped = (int(fields[13]) + int(fields[14])) / _TICK  # cutime cstime
    return fields[0], int(fields[1]), own, reaped, int(fields[21]) * _PAGE / 2**20


def running(pid: int) -> bool:
    s = _stat(pid)
    return s is not None and s[0] != "Z"


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class Tree:
    """Snapshot of the process tree rooted at this process.

    CPU of exited descendants is kept: a reaped child's time moves into
    its parent's ``cutime``/``cstime``, which the parent's reading
    includes. Python worker CPU is the tree's CPU minus the own time of
    the other processes (driver, JVM), so it survives the JVM reaping a
    worker daemon."""

    def __init__(self) -> None:
        root = os.getpid()
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(int(name))
                if s is not None:
                    stats[int(name)] = s
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        members, todo = [], [root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                members.append(pid)
                todo.extend(children.get(pid, ()))
        self.descendants = members[1:]
        self.cpu_s = sum(stats[p][2] + stats[p][3] for p in members)
        self.rss_mb = sum(stats[p][4] for p in members)
        workers = [p for p in members if _is_python_worker(p)]
        others = set(members) - set(workers)
        self.worker_cpu_s = self.cpu_s - sum(stats[p][2] for p in others)
        # the daemon forks every worker; it is not a worker itself
        self.python_workers = max(0, len(workers) - 1)


class PeakSampler:
    """Background sampler of the tree's total RSS and worker count."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak_rss_mb = 0.0
        self.peak_workers = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def sample(self) -> Tree:
        tree = Tree()
        self.peak_rss_mb = max(self.peak_rss_mb, tree.rss_mb)
        self.peak_workers = max(self.peak_workers, tree.python_workers)
        return tree

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def machine() -> dict:
    """Load average and cumulative steal seconds, for the environment
    record taken at pass start and end."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0
    return {"loadavg_1m": load1, "steal_s": steal}
