"""Peak resident memory of this process and every descendant, from /proc.

The Spark driver JVM is a child of this interpreter and the Python workers are
children of the JVM, so the whole tree is found by parent pid.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
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
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the process tree: every ``interval`` seconds a
    background thread sums ``VmRSS`` over this process and every live
    descendant; ``stop()`` returns the largest sum seen, in MB."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_status_kb(pid, "VmRSS:") for pid in [me, *descendants(me)])
        self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self._peak_kb / 1024.0


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL what is left
    after ``timeout`` seconds and wait for those too."""

    def alive() -> list[int]:
        return [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False
