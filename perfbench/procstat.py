"""Process and host measurements read from /proc, outside the engine.

CPU and memory are taken over the Spark JVM's process tree: the JVM itself
plus the Python worker daemon and the workers it forks. Exited workers are
reaped by their parent, so their CPU moves into the parent's cutime/cstime
and stays in the tree total.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may contain spaces: fields start after the closing parenthesis
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """root and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user+sys seconds of root's tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided among
    the processes mapping it. The forked Python workers share most of their
    pages with the worker daemon; summing plain RSS would count those pages
    once per worker and make the total depend on how many workers happen
    to be alive."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    raise RuntimeError(f"no Pss line for pid {pid}")


def tree_rss_mb(root: int) -> dict[str, float]:
    """Proportional resident MB of root's tree, per process name."""
    out: dict[str, float] = {}
    for pid in tree_pids(root):
        try:
            kb = _pss_kb(pid)
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (FileNotFoundError, ProcessLookupError):
            continue
        out[comm] = out.get(comm, 0.0) + kb / 1024
    return out


class PeakRss:
    """Samples tree_rss_mb(root) on a thread while the block runs; keeps the
    peak of the tree total and the per-name breakdown at that peak."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s = root, interval_s
        self.peak_mb, self.at_peak = 0.0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_name = tree_rss_mb(self.root)
        if sum(by_name.values()) > self.peak_mb:
            self.peak_mb, self.at_peak = sum(by_name.values()), by_name

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def jvm_heap_mb(mem_mb: int | None = None) -> int:
    """Spark JVM heap sized to this host: a quarter of physical memory,
    capped at 6 GiB and floored at 1 GiB. The engine's own default (24g)
    exceeds a 16 GB host with no swap; the benchmark's corpora need well
    under 2 GiB.
    Derived from MemTotal, not MemAvailable, so the heap (and with it RSS)
    does not change with what other tenants happen to hold."""
    mem_mb = mem_total_mb() if mem_mb is None else mem_mb
    return max(1024, min(6144, mem_mb // 4))


def host_probe() -> dict[str, float]:
    """Fixed-size single-threaded CPU probe (transcendentals over an
    L3-resident array) and a memory-bandwidth probe (streaming adds over
    200 MB): the same design as bench.py's host calibration."""
    import numpy as np

    x = np.linspace(0.0, 8.0, 2_000_000)
    cpu = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (np.sin(x) * np.cos(x)).sum()
        cpu = min(cpu, time.perf_counter() - t0)
    buf = np.zeros(25_000_000, dtype="float64")
    t0 = time.perf_counter()
    for _ in range(3):
        buf += 1.0
    stream_gbs = 3 * 2 * buf.nbytes / (time.perf_counter() - t0) / 1e9
    return {"cpu_sec": round(cpu, 4), "stream_gbs": round(stream_gbs, 2)}


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran another tenant on this guest's CPUs."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal (guest time is
        # already counted in user)
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    return (end[0] - start[0]) / max(end[1] - start[1], 1)


# start/end probes further apart than this are a host that changed under
# the run (co-tenant CPU steal or bandwidth contention)
DEGRADED_RATIO = 1.5
# a run whose timed phase lost more than this share of CPU time to steal
# ran on a contended host even when its two probes agree: steal bursts last
# minutes and fall between the probes
DEGRADED_STEAL = 0.1


def degraded(start: dict[str, float], end: dict[str, float], steal: float) -> bool:
    cpu = max(start["cpu_sec"], end["cpu_sec"]) / min(start["cpu_sec"], end["cpu_sec"])
    bw = max(start["stream_gbs"], end["stream_gbs"]) / min(
        start["stream_gbs"], end["stream_gbs"]
    )
    return cpu > DEGRADED_RATIO or bw > DEGRADED_RATIO or steal > DEGRADED_STEAL
