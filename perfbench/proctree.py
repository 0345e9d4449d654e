"""Peak memory of a process tree, and stopping it, through ``/proc``.

``psutil`` is not available, so a sampler thread walks ``/proc/*/stat``
for descendants of the root pid (the driver Python, its JVM, and the
Python worker daemons and the workers they fork) and, at each sample,
sums the processes' proportional set size (``Pss`` in
``/proc/<pid>/smaps_rollup``): resident memory with every shared page
split between the processes sharing it. The peak is the largest such
sum. Summing ``VmHWM`` instead counts the pages forked workers share
with their daemon once per worker, and moves with how many idle
workers happen to exist.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat_fields(stat: bytes) -> list[bytes]:
    # the command name may hold spaces or parens; fields resume after
    # the LAST ')' — index 0 is the state (field 3 of proc(5))
    return stat[stat.rindex(b")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(_stat_fields(stat)[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    """Not yet gone: running, sleeping, or a zombie this process still
    has to reap (another's zombie waits only for its own reaper)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = _stat_fields(f.read())
    except OSError:
        return False
    return fields[0] != b"Z" or int(fields[1]) == os.getpid()


def stop_descendants(grace: float = 20.0) -> None:
    """SIGTERM every descendant of this process (the Spark JVM outlives a
    stopped session until the driver exits), wait for them to end, and
    SIGKILL whatever is left after ``grace`` seconds."""
    root = os.getpid()
    pids = [p for p in tree_pids(root) if p != root]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while pids and time.monotonic() < deadline:
            time.sleep(0.1)
            # reap our own children (the JVM); its children are reaped by
            # whoever inherits them
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if _alive(p)]
        if not pids:
            return


def pss_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakMemory:
    """Context manager sampling this process's tree every ``PERIOD_S``."""

    PERIOD_S = 0.5

    def __init__(self):
        self.root = os.getpid()
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-memory", daemon=True)

    def sample(self) -> None:
        kbs = (pss_kb(pid) for pid in tree_pids(self.root))
        self.peak_kb = max(self.peak_kb, sum(kb for kb in kbs if kb))

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def __enter__(self) -> "PeakMemory":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
