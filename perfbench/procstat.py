"""Host and process readings taken from outside the program, via /proc."""

from __future__ import annotations

import os
import threading

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]), sum(int(x) for x in f[1:])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident set size of ``root`` and all its descendants: the worker
    Python, its JVM and the JVM's Python workers. Read from ``statm``,
    which costs no page-table walk (``smaps_rollup`` PSS does, and at a
    useful sampling rate it slowed the passes being measured). Pages a
    forked Python worker still shares with its daemon count once per
    process, as ``ps`` shows them."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE_BYTES
        except OSError:  # exited while sampling
            continue
    return total


class PeakRss:
    """Samples a process tree's RSS on a thread while entered."""

    def __init__(self, pid: int, interval_s: float = 0.2) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
