"""Host facts recorded with every result, CPU pinning, and a sampler of
the memory of the Spark JVM plus its Python workers."""

from __future__ import annotations

import os
import platform
import threading


def pin_to_affinity() -> list[int]:
    """Pin this process (and so the JVM and workers it starts) to the
    cores it may run on; returns the pin as read back."""
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)
    return sorted(os.sched_getaffinity(0))


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def facts() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "cores": sorted(os.sched_getaffinity(0)),
        "mem_available_mb": round(mem_available_mb(), 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "machine": platform.machine(),
    }


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
        # the command name may hold spaces: fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by n
    processes counted 1/n. Python workers are forked from one daemon and
    share its pages, so summing their plain RSS would count those pages
    once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
        todo.extend(kids.get(pid, []))
    return total


class MemSampler:
    """Background thread tracking the peak of ``tree_pss_bytes(root)``;
    use as a context manager."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        pss = tree_pss_bytes(self.root)
        with self._lock:
            self.peak = max(self.peak, pss)

    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self.peak / (1024.0 * 1024.0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
