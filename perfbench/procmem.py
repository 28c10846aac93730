"""Peak resident memory of a process tree, sampled from /proc (psutil is
not available in the benchmark's environment)."""

from __future__ import annotations

import os
import threading

_PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _children_by_parent():
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # the command name may hold spaces and parentheses: the fields that
        # follow it start after the last ')'; ppid is the second of them
        ppid = int(stat.rsplit(b")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    kids = _children_by_parent()
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _comm(pid):
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` plus its Python descendants.  Other descendants
    are skipped: the JVM runs shell helpers through fork+exec, and a forked
    child counts the parent's whole resident set until it execs."""
    total = 0
    for pid in tree_pids(root_pid):
        try:
            if pid != root_pid and not _comm(pid).startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE_BYTES
        except OSError:
            continue
    return total


class PeakRss:
    """Context manager sampling ``tree_rss_bytes(root_pid)`` every
    ``interval`` seconds on a background thread; ``peak_bytes`` holds the
    largest sample once the block exits."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self):
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        # one last sample, so a block shorter than one interval is measured
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root_pid))
        return False
