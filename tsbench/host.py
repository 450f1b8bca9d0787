"""Host facts and process bookkeeping: core count, versions, memory
high-water mark of this process tree, and waiting for child processes."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cores() -> int:
    """Cores this process may run on (affinity mask, not the machine total)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the comm field may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """All live descendant pids of ``pid`` (default: this process)."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """User + system time of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant (JVM,
    Python workers).  Time stolen by other guests of the host is not in it."""
    return sum(_cpu_ticks(p) for p in [os.getpid(), *descendants()]) / _TICK


def tree_rss_bytes() -> int:
    """Resident memory of this process plus every descendant (JVM, Python workers)."""
    return sum(_rss_bytes(p) for p in [os.getpid(), *descendants()])


class RssSampler:
    """Samples the process tree's resident memory on a background thread
    and keeps the high-water mark.  Use as a context manager."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_for_exit(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait until every pid has ended; SIGKILL what outlives the timeout.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if _alive(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5.0
    while any(_alive(p) for p in live) and time.monotonic() < deadline:
        time.sleep(0.05)
    return live


def dir_bytes(path: str) -> int:
    """On-disk bytes of the data files under ``path`` (skips Hadoop .crc files)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, name))
    return total
