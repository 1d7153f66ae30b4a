"""Host measurements: busy core-seconds from /proc/stat, a peak-RSS sampler
over the benchmark's child processes, and the md5 / allocation controls
(after bench.py's _hw_control and _mem_control).  The controls explain a
slow window; they are recorded beside the metrics and never scale them."""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies.  Busy is user+nice+system+irq+softirq."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq = v[:7]
    steal = v[7] if len(v) > 7 else 0
    return user + nice + system + irq + softirq, steal, sum(v[:8])


def core_seconds(j0: tuple[int, int, int], j1: tuple[int, int, int]) -> float:
    return (j1[0] - j0[0]) / _HZ


def steal_pct(j0: tuple[int, int, int], j1: tuple[int, int, int]) -> float:
    return 100.0 * (j1[1] - j0[1]) / max(j1[2] - j0[2], 1)


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) of this
    process, of `pid` and of pid's descendants: the JVM and its Python
    workers.  Unlike /proc/stat it excludes other tenants of the host."""
    t = os.times()
    ticks = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    return t.user + t.system + ticks / _HZ


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while pid runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of `pid` and its descendants (the JVM and its
    Python workers) at a fixed interval; `peak_mb` is the maximum."""

    def __init__(self, pid: int, interval_s: float = 0.25):
        self.pid = pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in [self.pid] + descendants(self.pid))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _md5_work(k: int) -> int:
    h = b"x" * 64
    for _ in range(k):
        h = hashlib.md5(h).digest()
    return h[0]


def _mem_work(n: int) -> int:
    """str/dict churn like the extraction kernel (bound by memory bandwidth
    and the allocator, which an md5 loop does not calibrate)."""
    acc = 0
    base = "the quick brown fox jumps over the lazy dog " * 4
    for i in range(n):
        toks = (base + str(i)).split()
        d = [{"kind": t, "text": t * 2} for t in toks[:8]]
        acc += len("|".join(t["text"] for t in d))
    return acc


def _rate(fn, procs: int, n: int, cpus: list[int] | None = None) -> float:
    """Items/s of fn(n) run once in each of `procs` spawned processes,
    optionally pinned to `cpus`."""
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs, initializer=_pin, initargs=(cpus,)) as pool:
        pool.map(_md5_work, [1] * procs)  # start every worker before timing
        t0 = time.perf_counter()
        pool.map(fn, [n] * procs)
        dt = time.perf_counter() - t0
    return procs * n / dt


def _pin(cpus: list[int] | None) -> None:
    if cpus:
        os.sched_setaffinity(0, cpus)


def host_controls(procs: int) -> dict:
    """md5 and allocation loops at `procs` processes, steal over the probe
    window and the load average before it."""
    la = loadavg()
    j0 = cpu_jiffies()
    md5 = _rate(_md5_work, procs, 200_000)
    alloc = _rate(_mem_work, procs, 20_000)
    j1 = cpu_jiffies()
    return {
        "loadavg": la,
        "steal_pct": round(steal_pct(j0, j1), 3),
        "md5_per_s": md5,
        "alloc_per_s": alloc,
    }


def md5_scaling(procs: int) -> float:
    """md5 throughput at `procs` pinned processes ÷ (procs × one pinned
    process): what the silicon delivers over the cores extract.scaling_eff
    uses."""
    one = _rate(_md5_work, 1, 200_000, [0])
    many = _rate(_md5_work, procs, 200_000, list(range(procs)))
    return many / (procs * one)
