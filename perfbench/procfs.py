"""CPU time of the processes that do the program's work, read from
``/proc`` (psutil is not installed).

On a machine shared through a hypervisor, wall time swings with the
time other guests take from this one; CPU time charged to the processes
does not include that stolen time, so it is the steadier measure of the
work a run does."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _fields(path: str) -> list[str]:
    with open(path) as fh:
        data = fh.read()
    return data[data.rindex(")") + 2 :].split()  # after "pid (comm) "


def _ticks(fields: list[str], children: bool) -> int:
    own = int(fields[11]) + int(fields[12])  # utime, stime
    return own + (int(fields[13]) + int(fields[14]) if children else 0)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class CpuMeter:
    """CPU seconds used so far by the Spark JVM and every process under
    it (Python workers, and the ones already reaped, such as the shell
    commands Hadoop's local file system runs), plus this Python process
    minus the threads passed to ``exclude_thread`` (a load generator is
    not part of the program)."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid  # None before the JVM is launched
        self.excluded: list[int] = []

    def exclude_thread(self, tid: int) -> None:
        self.excluded.append(tid)

    def _jvm_tree(self) -> int:
        if self.jvm_pid is None:
            return 0
        parent: dict[int, int] = {}
        stats: dict[int, list[str]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                f = _fields(f"/proc/{name}/stat")
            except OSError:  # exited while we looked
                continue
            parent[int(name)] = int(f[1])
            stats[int(name)] = f
        total, todo = 0, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            if pid in stats:
                total += _ticks(stats[pid], children=True)
            todo += [c for c, p in parent.items() if p == pid]
        return total

    def read(self) -> float:
        ticks = self._jvm_tree() + _ticks(_fields("/proc/self/stat"), children=False)
        for tid in self.excluded:
            try:
                ticks -= _ticks(_fields(f"/proc/self/task/{tid}/stat"), children=False)
            except OSError:
                pass
        return ticks / _TICK
