"""CPU time and resident memory of a process tree, read from /proc.

The tree is a root process and every live descendant: for a Spark run
that is the driver Python, the JVM it launched, the PySpark daemon the
JVM forks and the Python workers the daemon forks.  CPU time counts
each live process's own time plus the time of children it has already
reaped (``cutime``/``cstime``), so a worker that exits between two
readings still counts: its time moves into its parent's reaped total.
"""

from __future__ import annotations

import os
import threading

_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLOCK_TICKS


def tree_rss_bytes(root: int) -> int:
    """Resident bytes summed over the tree's live processes."""
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            continue
    return pages * _PAGE_BYTES


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the share
    of CPU time the hypervisor gave to other guests is the control for
    how contended a measurement window was."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Background sampler of the tree's resident memory.

    ``start_window`` / ``window_peak`` bracket the part of a run whose
    peak is reported; sampling runs for the sampler's whole life.
    """

    def __init__(self, root: int, interval_s: float = 0.25):
        self._root = root
        self._interval = interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = tree_rss_bytes(self._root)
        with self._lock:
            self._peak = max(self._peak, rss)

    def start_window(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def window_peak(self) -> int:
        self.sample()
        with self._lock:
            return self._peak
