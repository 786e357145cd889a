"""CPU time and resident memory of this process tree, read from /proc.

The tree is the driver Python process, the Spark JVM it launched and
the JVM's Python workers. CPU counts each live process's own time plus
the time of children it has reaped, so workers that exit between two
snapshots still count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("py", "jvm", "worker")


def _stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, comm, cpu ticks incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we looked
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return int(rest[1]), comm, ticks, int(rest[21]) * _PAGE


def tree(root: int | None = None) -> dict[int, tuple[str, int, int]]:
    """pid -> (kind, cpu ticks, rss bytes) for ``root`` and its descendants."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        _ppid, comm, ticks, rss = stats[pid]
        kind = "py" if pid == root else "jvm" if comm == "java" else "worker"
        out[pid] = (kind, ticks, rss)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> dict[str, float]:
    """CPU seconds consumed so far, per kind of process."""
    total = dict.fromkeys(KINDS, 0.0)
    for kind, ticks, _rss in tree().values():
        total[kind] += ticks / _TICK
    return total


def descendants() -> list[int]:
    return [pid for pid in tree() if pid != os.getpid()]


class PeakRss:
    """Samples the tree's summed RSS on a background thread while
    active; ``peak_mb`` is the largest sample seen."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self.kind_peak_bytes = dict.fromkeys(KINDS, 0)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        by_kind = dict.fromkeys(KINDS, 0)
        for kind, _ticks, rss in tree().values():
            by_kind[kind] += rss
        self.peak_bytes = max(self.peak_bytes, sum(by_kind.values()))
        for kind, rss in by_kind.items():
            self.kind_peak_bytes[kind] = max(self.kind_peak_bytes[kind], rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
