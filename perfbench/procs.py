"""Process-tree bookkeeping from /proc: peak resident set of the
benchmark's process tree (driver, JVM, Python workers) and a wait that
returns only when every descendant has exited."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the tree's resident set every ``interval`` seconds while
    it runs; ``take`` returns the peak in bytes since the last take."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def take(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives
    ``timeout`` and wait for that too."""
    deadline = time.monotonic() + timeout
    pending = set(pids)
    while pending:
        pending = {p for p in pending if _alive(p)}
        if not pending:
            return
        if time.monotonic() > deadline:
            for p in pending:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # a zombie has exited; its parent reaps it
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False

