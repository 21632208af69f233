"""Host context and process-tree memory, read from /proc (no psutil)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; fields resume after ')'
                rest = f.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += [c for c, pp in parent.items() if pp == p]
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process tree (the Python driver
    process, the JVM, the Python workers) on a background thread and keeps
    the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, typ = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) < 3:
                continue
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, typ = mnt, parts[2]
    return typ


def nproc() -> int:
    return len(os.sched_getaffinity(0))
