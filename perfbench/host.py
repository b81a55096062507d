"""Host facts recorded with every result: cores, driver memory, library
versions, the load/steal bracket around a run, and the peak memory of the
driver JVM plus every process it forked (the Python workers), sampled
from ``/proc``."""

from __future__ import annotations

import os
import platform
import threading
import time


def cores() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of host RAM, 1-8 GiB. ``local[N]`` runs every task in the
    driver JVM; the engine's own default (48g) does not fit small hosts."""
    gib = mem_total_bytes() // (4 << 30)
    return f"{max(1, min(8, gib))}g"


def environment(master: str, driver_mem: str, java: str) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "cores": cores(), "master": master, "driver_memory": driver_mem,
        "mem_total_gb": round(mem_total_bytes() / 2**30, 1),
        "pyspark": pyspark.__version__, "java": java,
        "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__, "python": platform.python_version(),
    }


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8])  # cpu user nice system idle iowait irq softirq STEAL


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class Bracket:
    """``/proc/loadavg`` and the steal-tick count before and after a run."""

    def __init__(self):
        self.before = {"loadavg": _loadavg(), "steal_ticks": _steal_ticks(),
                       "t": time.time()}

    def close(self) -> dict:
        after = {"loadavg": _loadavg(), "steal_ticks": _steal_ticks(),
                 "t": time.time()}
        return {"before": self.before, "after": after,
                "steal_delta": after["steal_ticks"]
                - self.before["steal_ticks"]}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. Python workers are forked from one
    daemon, so a plain RSS sum would count their shared pages once per
    worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited while sampling
    return 0


def _is_python(pid: int) -> bool:
    try:
        return "python" in os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return False


def python_descendants_pss(root: int) -> int:
    """Summed PSS of the Python processes below ``root``. Other children
    are left out: a JVM spawns helpers that share its address space until
    they exec, and counting one would add the whole JVM again."""
    kids = _children()
    total, stack = 0, list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        if _is_python(pid):
            total += _pss_bytes(pid)
        stack.extend(kids.get(pid, ()))
    return total


class MemSampler:
    """Peak PSS of the JVM ``root`` and, separately, of the Python
    workers below it, sampled every ``interval`` seconds on a background
    thread while active."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.jvm_peak = self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        self.jvm_peak = max(self.jvm_peak, _pss_bytes(self.root))
        self.workers_peak = max(self.workers_peak,
                                python_descendants_pss(self.root))

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
