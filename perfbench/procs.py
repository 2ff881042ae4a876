"""CPU time and resident memory of this process and all its descendants
(the Spark JVM, its Python daemon and workers), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the live tree, including children each member
    has already reaped (exited Python workers)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / (1024.0 * 1024.0)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds while
    ``active`` is set; ``peak_mb`` is the largest sample.  The list of
    processes is refreshed every ``refresh`` samples."""

    def __init__(self, root: int, interval: float = 0.25, refresh: int = 8):
        self.root = root
        self.interval = interval
        self.refresh = refresh
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pids, n = None, 0
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                if n % self.refresh == 0:
                    pids = tree_pids(self.root)
                n += 1
                self.peak_mb = max(self.peak_mb, rss_mb(pids))

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
