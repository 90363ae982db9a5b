"""Process-tree CPU time and resident memory, read from /proc.

The tree is this Python driver plus every descendant: the JVM that
``spark-submit`` starts and the Python workers it forks. CPU of a process
includes its reaped children (``cutime``/``cstime``), so workers that exit
between two readings are still counted.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:  # utime, stime, cutime, cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the tree's resident memory on a daemon thread; ``peak_mb``
    is the largest sum seen since the last ``restart``."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def restart(self) -> float:
        """Return the peak so far and start a new one from now."""
        now = tree_rss_mb(self.root)
        with self._lock:
            peak, self.peak_mb = self.peak_mb, now
        return max(peak, now)

    def _run(self) -> None:
        while not self._stop.is_set():
            now = tree_rss_mb(self.root)
            with self._lock:
                self.peak_mb = max(self.peak_mb, now)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
