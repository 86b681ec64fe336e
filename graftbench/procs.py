"""Process hygiene for benchmark runs: one run at a time, and a run ends
only after every process it started has exited.

A run records its own pid and, once Spark is up, the JVM and Python
worker daemon pids in a lock file. The next run refuses to start while
any of them is still alive, because a leftover JVM or daemon steals cores
from the run being measured.
"""

from __future__ import annotations

import json
import os
import signal
import time


def _start_ticks(pid: int) -> int | None:
    """Process start time in clock ticks (field 22 of /proc/<pid>/stat),
    or None when the process is gone. Pid plus start time names a process
    even after the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name (field 2) may contain spaces; fields follow its ')'
    fields = stat.rsplit(")", 1)[1].split()
    if fields[0] == "Z":  # exited, waiting to be reaped: no longer running
        return None
    return int(fields[19])


def alive(proc: tuple[int, int]) -> bool:
    pid, ticks = proc
    return _start_ticks(pid) == ticks


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, start ticks) of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        ticks = _start_ticks(pid)
        if ticks is not None:
            out.append((pid, ticks))
        todo.extend(children.get(pid, []))
    return out


class RunLock:
    """The lock file of the benchmark's work directory."""

    def __init__(self, path: str):
        self.path = path
        self.procs: list[tuple[int, int]] = []

    def acquire(self) -> None:
        """Take the lock, or raise if a previous run's processes live."""
        try:
            with open(self.path) as f:
                previous = [tuple(p) for p in json.load(f)["procs"]]
        except FileNotFoundError:
            previous = []
        live = [p for p in previous if alive(p)]
        if live:
            raise RuntimeError(
                f"a previous benchmark run is still alive (pids "
                f"{[p[0] for p in live]}); refusing to start"
            )
        self.record([(os.getpid(), _start_ticks(os.getpid()))])

    def record(self, procs: list[tuple[int, int]]) -> None:
        self.procs = list(dict.fromkeys(self.procs + procs))
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            json.dump({"procs": self.procs}, f)

    def release(self) -> None:
        try:
            os.remove(self.path)
        except FileNotFoundError:
            pass


def wait_gone(procs: list[tuple[int, int]], timeout_s: float) -> None:
    """Wait for ``procs`` to exit; SIGKILL what outlives ``timeout_s``
    and raise if even that does not end them within five seconds."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while any(alive(p) for p in procs):
        if time.monotonic() > deadline:
            if killed:
                live = [p[0] for p in procs if alive(p)]
                raise RuntimeError(f"processes {live} survived SIGKILL")
            for p in procs:
                if alive(p):
                    try:
                        os.kill(p[0], signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            killed = True
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)
