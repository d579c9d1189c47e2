"""Host-side measurement from /proc: process-tree CPU and RSS, host steal.

Wall time on a shared VM moves with hypervisor steal.  CPU-seconds spent
by this benchmark's own processes (the Python driver, the Spark JVM and
its Python workers) move far less, so every timed operation records both.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def _tree(root: int) -> dict[int, tuple[float, int]]:
    """{pid: (cpu_s, rss_bytes)} for ``root`` and all its descendants."""
    stats: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[float, int]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return [p for p in _tree(root) if p != root]


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds used so far by the process tree under ``root``."""
    return sum(cpu for cpu, _ in _tree(root or os.getpid()).values())


class RssSampler:
    """Background thread that records the process tree's peak summed RSS."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        rss = sum(r for _, r in _tree(os.getpid()).values())
        self.peak_bytes = max(self.peak_bytes, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostClock:
    """/proc/stat deltas over an interval: steal share and busy cores.

    busy counts every non-idle, non-iowait, non-steal tick on the host,
    so before the benchmark starts anything it measures other tenants."""

    def __init__(self) -> None:
        self._start = _cpu_line()
        self._t0 = time.monotonic()

    def read(self) -> dict[str, float]:
        now = _cpu_line()
        d = [b - a for a, b in zip(self._start, now)]
        total = sum(d[:8]) or 1  # guest time is already inside user/nice
        idle, iowait, steal = d[3], d[4], d[7]
        wall = max(time.monotonic() - self._t0, 1e-9)
        return {
            "steal_pct": 100.0 * steal / total,
            "busy_cores": (total - idle - iowait - steal) / _TICK / wall,
        }


def busy_cores_before(seconds: float) -> float:
    """Busy cores on the host in the ``seconds`` before launch (external load)."""
    clock = HostClock()
    time.sleep(seconds)
    return clock.read()["busy_cores"]
