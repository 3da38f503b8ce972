"""Host record and peak-RSS sampling, both read from ``/proc``."""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time stolen by the hypervisor since boot, all cpus (USER_HZ=100)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / 100.0 if len(fields) > 8 else 0.0


def meminfo_mb() -> dict[str, float]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                out[k] = int(v.split()[0]) / 1024
    return out


def snapshot() -> dict:
    return {"loadavg": list(os.getloadavg()), "steal_s": steal_s(), "mem_mb": meminfo_mb()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` (default: this process) and every
    process below it, reaped ones included (through their parents' cutime
    and cstime). Steal is not in it: the kernel books stolen ticks as steal."""
    root = os.getpid() if root is None else root
    kids = _children()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants_rss_mb(root: int) -> float:
    """Summed RSS of every process below ``root`` (the driver JVM and the
    Python workers it forks), not counting ``root`` itself."""
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024


class RssSampler:
    """Background thread keeping the peak of :func:`descendants_rss_mb`."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(me))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
