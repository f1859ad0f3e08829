"""Peak summed resident memory of the Spark JVM and its Python workers,
sampled from ``/proc``.

Only the JVM and the Python processes under it count. A JVM that forks a
helper (a shell for a file-permission call, say) briefly shows a second
``java`` process whose resident pages are the parent's, shared
copy-on-write; counting it would add the whole heap a second time.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while listing
        # the command name is parenthesised and may hold spaces
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        out[int(entry)] = (int(rest.split()[1]), name)
    return out


def descendants(root: int, procs: dict | None = None) -> list[int]:
    procs = _processes() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def jvm_and_workers(root: int) -> list[int]:
    """The JVMs under ``root`` that no JVM forked, and every Python process."""
    procs = _processes()
    keep = []
    for pid in descendants(root, procs):
        ppid, name = procs[pid]
        if name.startswith("python") or (name == "java" and procs.get(ppid, (0, ""))[1] != "java"):
            keep.append(pid)
    return keep


def summed_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # the process ended between listing and reading
    return total


class RssSampler:
    """Samples every ``interval`` seconds between ``start()`` and ``stop()``;
    ``stop()`` returns the peak in MB."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, summed_rss_bytes(jvm_and_workers(me)))
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20
