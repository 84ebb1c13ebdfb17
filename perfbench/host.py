"""Host facts and process bookkeeping from ``/proc`` (no psutil)."""

from __future__ import annotations

import os
import signal
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of this process's descendants (the driver JVM
    and its Python workers) on a background thread; ``peak`` is the max."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(rss_bytes(p) for p in descendants(me)))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every pid in ``pids`` and every remaining descendant of
    this process has ended; SIGTERM at once, SIGKILL after ``timeout_s``."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        for p in descendants(me):
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        live = [p for p in set(pids) | set(descendants(me)) if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
