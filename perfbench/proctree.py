"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark process and everything below it: the JVM that
PySpark launches, the Python worker daemon the JVM forks, and its workers.
CPU includes each live process's reaped children (``cutime``/``cstime``),
so a worker that exits mid-job still counts.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields after the ``comm`` field of /proc/<pid>/stat (state first),
    or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(b")") + 2:].decode().split()


def _tree() -> list[tuple[int, int]]:
    """(pid, ppid) of this process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [(os.getpid(), 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    return [pid for pid, _ in _tree()]


def tree_cpu_s() -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _CLK_TCK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes() -> int:
    """Summed RSS of the tree, skipping a child that still runs its
    parent's JVM executable: Hadoop's local file system forks the JVM to
    exec helpers such as chmod, and until the exec the child shows the
    whole JVM as resident."""
    total = 0
    for pid, ppid in _tree():
        exe = _exe(pid)
        if exe.endswith("/java") and _exe(ppid) == exe:
            continue
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the tree's summed RSS on a thread between ``with`` entry and
    exit; ``peak`` holds the highest sample in bytes."""

    interval_s = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
