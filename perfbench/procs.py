"""Process-tree accounting read from ``/proc``: peak memory, and clean-up.

The tree is this Python driver, the JVM it launches and the JVM's Python
worker daemon and workers. One sampler thread records the peak of the
tree's summed resident set size, and every process it has seen, so the run
can wait for all of them to end. RSS is read from ``statm`` in constant
time; a proportional set size (``smaps_rollup``) would not count pages a
forked worker shares with its daemon once per worker, but it walks the
page tables: about 20 ms per read of a 2 GB JVM, a load the measurement
would itself add to the run.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class TreeSampler:
    """Samples the summed RSS of a process tree on one background thread."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_bytes = 0
        # pid -> start time, so a recycled pid is never mistaken for ours
        self.seen: dict[int, str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        pids = tree_pids(self.root)
        mem = sum(_rss_bytes(p) for p in pids)
        started = {p: _start_time(p) for p in pids}
        with self._lock:
            self.seen.update({p: t for p, t in started.items() if t is not None})
            self.peak_bytes = max(self.peak_bytes, mem)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self.peak_bytes / 2**20

    def descendants_seen(self) -> dict[int, str]:
        with self._lock:
            return {p: t for p, t in self.seen.items() if p != self.root}


def reap(procs: dict[int, str], timeout_s: float = 20.0) -> list[int]:
    """Wait until every process in ``procs`` (pid -> start time) has exited;
    SIGKILL stragglers. Returns the pids that had to be killed.
    """
    deadline = time.monotonic() + timeout_s
    killed: list[int] = []
    while True:
        alive = [
            p for p, t in procs.items() if _start_time(p) == t and not _is_zombie(p)
        ]
        if not alive:
            return killed
        if time.monotonic() > deadline:
            if killed:  # already signalled once; SIGKILL cannot do more
                return killed
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = alive
            deadline = time.monotonic() + 5.0
        time.sleep(0.1)


def _start_time(pid: int) -> str | None:
    fields = _stat_fields(pid)
    return None if fields is None else fields[19]


def _is_zombie(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] == "Z"
