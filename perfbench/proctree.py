"""CPU time and resident memory of a whole process tree, read from /proc.

The tree is the benchmark's own process and every live descendant: the
Spark JVM, the pyspark daemon and its Python workers. ``getrusage`` cannot
stand in for this: the JVM is never a reaped child of the benchmark while
it runs, so ``RUSAGE_CHILDREN`` misses it entirely. Each process contributes
its own user+system time plus the ``cutime``/``cstime`` of children it has
already reaped, which is where finished Python workers' CPU lands (in the
pyspark daemon's counters).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """Stat fields (from field 3 on) of ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                stats[int(name)] = f
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    return [pid for pid in _tree(root) if pid != root]


def cpu_seconds(root: int) -> float:
    """utime+stime+cutime+cstime summed over the tree, in seconds."""
    # fields 14-17 of /proc/<pid>/stat are indices 11-14 after the comm
    ticks = sum(sum(int(x) for x in f[11:15]) for f in _tree(root).values())
    return ticks / _TICK


def rss_bytes(root: int) -> int:
    """Summed resident set size of the tree (field 24 of stat, in pages).

    Processes younger than a second are left out. The JVM starts ``chmod``
    and friends through ``posix_spawn`` for every local file it commits,
    and until the child execs it shares the JVM's address space and
    reports the JVM's whole RSS; counting it would add a phantom JVM to a
    sample now and then. Such helpers live for milliseconds, so the age
    (field 22) tells them apart from the JVM, the daemon and its workers."""
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0]) * _TICK
    pages = sum(
        int(f[21]) for f in _tree(root).values() if now - int(f[19]) >= _TICK
    )
    return pages * _PAGE


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    background thread while the ``with`` block runs; ``peak`` is the
    largest sample in bytes."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(self.root))
