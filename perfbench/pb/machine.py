"""Host facts recorded next to every run: core count, memory, a CPU speed
probe (a pure-Python loop and a float64 GEMM) taken before and after the
measured loop, and the peak resident memory of the engine's process tree
(the Spark JVM and its Python workers; the benchmark's client, which holds
the oracles, is left out). The CPU time that tree uses is what the
benchmark charges each op with."""

from __future__ import annotations

import os
import threading
import time

import numpy as np


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds the process tree under ``root`` has used: user + system
    time of each live process plus that of its reaped children (a Python
    worker that exits is reaped by its daemon, so its time stays in the
    sum). Time the host takes away (steal, waiting for a core) is not in
    it, so it varies far less with co-tenant load than wall time does."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime: fields 14-17 of stat(5)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        total += ticks.get(pid, 0)
    return total / CLK_TCK


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree under ``root`` as the sum of each
    process's PSS: pages shared between processes (the forked Python
    workers share most of theirs) are split between them instead of
    counted once per process, so the sum is the memory the tree holds."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of the process tree under ``root()`` on a background
    thread; ``root()`` returns None until the process exists."""

    def __init__(self, root, interval: float = 0.25):
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self):
        pid = self.root()
        if pid is not None:
            self.peak = max(self.peak, tree_rss_bytes(pid))

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def speed_probe() -> dict:
    """Milliseconds for a fixed Python loop and a 384x384 GEMM (best of 3
    each, so the probe itself is short and its noise is one-sided)."""
    def pyloop():
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        return (time.perf_counter() - t) * 1e3

    a = np.random.default_rng(0).standard_normal((384, 384))

    def gemm():
        t = time.perf_counter()
        a @ a
        return (time.perf_counter() - t) * 1e3

    return {"pyloop_ms": round(min(pyloop() for _ in range(3)), 3),
            "gemm_ms": round(min(gemm() for _ in range(3)), 3)}


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "mem_total_gb": round(mem_kb / 1024 / 1024, 2),
            "loadavg": os.getloadavg()}
