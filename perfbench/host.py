"""Host-side measurement from /proc: hypervisor steal, load, and the peak
resident memory of the Spark driver JVM plus its Python workers."""

from __future__ import annotations

import os
import threading
import time

# /proc/stat cpu fields: user nice system idle iowait irq softirq steal
# guest guest_nice. guest and guest_nice are already counted inside user and
# nice, so the total sums only the first eight.
_TOTAL_FIELDS = 8
_STEAL = 7


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after[:_TOTAL_FIELDS], before[:_TOTAL_FIELDS])]
    total = sum(d)
    return 100.0 * d[_STEAL] / total if total > 0 else 0.0


def loadavg() -> tuple[float, float, float]:
    with open("/proc/loadavg") as f:
        a, b, c = f.read().split()[:3]
    return float(a), float(b), float(c)


class HostNoise:
    """Steal% and load averages over one timed unit."""

    def __enter__(self):
        self._t0 = cpu_times()
        return self

    def __exit__(self, *exc):
        self.steal_pct = steal_pct(self._t0, cpu_times())
        self.load = loadavg()
        return False

    def as_dict(self) -> dict:
        return dict(steal_pct=round(self.steal_pct, 3),
                    load1=self.load[0], load5=self.load[1],
                    load15=self.load[2])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; ppid is the 2nd field after the ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples the summed RSS of a process tree in a background thread while
    the ``with`` block runs and keeps the peak."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root_pid, self.interval_s = root_pid, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(process_tree(self.root_pid)))
            time.sleep(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
