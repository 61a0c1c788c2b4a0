"""Host-side probes: process-tree RSS from /proc and warehouse file deltas."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    children = _children_map()
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def engine_rss_bytes() -> int:
    """Summed RSS of the Spark JVM (this process's child) and the Python
    daemons and workers it forks. Other descendants are left out: the JVM
    spawns short-lived helpers whose /proc entry, until they exec, reports
    the JVM's own pages a second time."""
    children = _children_map()
    pids = list(children.get(os.getpid(), []))
    todo = list(pids)
    while todo:
        for c in children.get(todo.pop(), []):
            try:
                with open(f"/proc/{c}/cmdline", "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        pids.append(c)
            except OSError:
                continue
            todo.append(c)
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # exited between listing and reading
    return total


class RssSampler:
    """Peak ``engine_rss_bytes`` while running."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, engine_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, engine_rss_bytes())


def file_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """{path: (inode, mtime_ns)} of every file under ``root``."""
    snap = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            snap[p] = (st.st_ino, st.st_mtime_ns)
    return snap


def new_files(root: str, before: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(count, bytes) of files under ``root`` that are new or rewritten
    since ``before``."""
    count = size = 0
    for p, ident in file_snapshot(root).items():
        if before.get(p) != ident:
            count += 1
            size += os.path.getsize(p)
    return count, size


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_for_exit(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended; kill stragglers."""
    deadline = time.monotonic() + timeout_s
    while any(map(_running, pids)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in filter(_running, pids):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(map(_running, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
