"""CPU time and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from /proc, and the JVM's
heap in use after each garbage collection, read from its GC log."""

from __future__ import annotations

import glob
import os
import re
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may contain spaces; fields after it start at state (index 0)
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of the given processes and of their reaped
    children, so workers that exit inside a measured interval still count."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def rss_bytes(pids: list[int]) -> int:
    """Summed RSS of `pids`, leaving out a child of the JVM that is itself
    still `java`: the JVM starts its helper commands through vfork, and
    until the child execs it shares the JVM's memory, which would count
    twice (one sample in ten runs read 8.5 GB instead of 4.7)."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None and _exe(pid) == "java" and _exe(int(f[1])) == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class TreeSampler:
    """Samples the process tree's summed RSS every `interval` seconds
    between start() and stop() and keeps the peak. Sampling more often
    measurably slowed the driver thread it shares the interpreter with."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, rss_bytes(tree_pids()))

    def start(self) -> "TreeSampler":
        self.peak_rss = rss_bytes(tree_pids())
        self._stop.clear()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss = max(self.peak_rss, rss_bytes(tree_pids()))


_GC_LINE = re.compile(r"^\[(\d+)ms\] GC\(\d+\) .* (\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_UNIT = {"K": 1 << 10, "M": 1 << 20, "G": 1 << 30}


def gc_heap_after(pattern: str) -> list[tuple[float, int]]:
    """(epoch seconds, heap bytes in use after the collection) of every GC
    pause in the GC logs matching `pattern`, written by
    -Xlog:gc:file=...:timemillis."""
    out = []
    for path in glob.glob(pattern):
        with open(path) as f:
            for line in f:
                m = _GC_LINE.match(line)
                if m:
                    out.append((int(m.group(1)) / 1000, int(m.group(4)) * _UNIT[m.group(5)]))
    return sorted(out)


def heap_peak(events: list[tuple[float, int]], window: tuple[float, float]) -> int:
    """Peak of the post-GC heap level over `window`: the level after the
    last collection before it, and after every collection inside it."""
    before = [h for t, h in events if t < window[0]]
    inside = [h for t, h in events if window[0] <= t <= window[1]]
    return max(before[-1:] + inside, default=0)
