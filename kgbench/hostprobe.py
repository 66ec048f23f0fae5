"""Host-side readings taken from /proc: process-tree memory, CPU steal, load.

Nothing here touches Spark; it only reads the kernel's accounting, so it
works the same whatever the program under test does.
"""

from __future__ import annotations

import os
import threading

# RssSampler reads RSS every SAMPLE_S seconds and re-lists the process tree
# every REFRESH_S seconds
SAMPLE_S = 0.1
REFRESH_S = 1.0


def host_memory_bytes() -> int:
    """Physical memory this process may use: MemTotal, capped by a cgroup
    memory limit when one is set."""
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            raw = fh.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except (OSError, ValueError):
        pass
    return total


def process_age_s() -> float:
    """Seconds since this process was exec'd (includes interpreter start)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), after pid and comm
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # (guest time is already counted in user/nice)
    return sum(vals[:8]), vals[7]


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids: list[int]) -> tuple[int, int]:
    """(summed RSS of the java processes among `pids`, of the others)."""
    page = os.sysconf("SC_PAGE_SIZE")
    jvm = other = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        if comm == "java":
            jvm += rss
        else:
            other += rss
    return jvm, other


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the Python
    workers it forks) while `active` is set, in total and for the JVM and
    the workers apart."""

    def __init__(self):
        self.peak = self.peak_jvm = self.peak_workers = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self):
        me = os.getpid()
        pids: list[int] = []
        tick = 0
        refresh_every = round(REFRESH_S / SAMPLE_S)
        while not self._stop.wait(SAMPLE_S):
            if not self.active.is_set():
                continue
            if tick % refresh_every == 0:
                pids = descendants(me)
            tick += 1
            jvm, workers = rss_bytes(pids)
            self.peak = max(self.peak, jvm + workers)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, workers)
