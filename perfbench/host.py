"""Host conditions and process-tree memory, read from /proc (Linux)."""

from __future__ import annotations

import os
import threading
import time


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def steal_ticks() -> int | None:
    """Aggregate hypervisor steal ticks (``cpu`` line, 8th value)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent by ``root`` and every live process
    below it, including their children that have ended and were waited
    for.  Hypervisor steal is not counted, unlike in wall time."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 2**20


class RssSampler:
    """Samples the resident memory of this process tree in the background
    while open; ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return False


class HostConditions:
    """What the host looked like around a run, so a busy host shows in the
    run's own output."""

    def __init__(self, spark_cpus: str):
        self.spark_cpus = spark_cpus
        self.nproc = cpu_count()
        self.load_before = loadavg()
        self.steal_before = steal_ticks()
        self._t0 = time.monotonic()

    def report(self) -> dict:
        steal_after = steal_ticks()
        elapsed = time.monotonic() - self._t0
        steal = (None if steal_after is None or self.steal_before is None
                 else steal_after - self.steal_before)
        hz = os.sysconf("SC_CLK_TCK")
        steal_share = (steal / hz / elapsed / self.nproc) if steal is not None and elapsed > 0 else None
        load_after = loadavg()
        # load already present before this run starts is someone else's
        busy = bool((self.load_before and self.load_before[0] > self.nproc)
                    or (steal_share is not None and steal_share > 0.05))
        return {
            "nproc": self.nproc,
            "spark_graft_cpus": self.spark_cpus,
            "loadavg_before": self.load_before,
            "loadavg_after": load_after,
            "steal_ticks_delta": steal,
            "steal_share": None if steal_share is None else round(steal_share, 4),
            "busy_host": busy,
        }
