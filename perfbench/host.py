"""Host record, process-tree memory sampling and the contention flag.

Every artifact carries the host it ran on, so a number is only ever compared
with one from the same kind of host, and a flag that says whether the host
was busy with something else while the run was measuring.
"""

from __future__ import annotations

import os
import platform
import statistics
import threading

# Two shots or two canaries slower than this multiple of their series'
# in-run minimum mean something outside the benchmark took the cores for a
# while. On a quiet 4-core VM single samples reach ~1.6 (a GC pause, a
# late JIT), the second-slowest stays below ~1.4; a numpy spin on every
# core puts most samples near 2.
CONTENTION_RATIO = 1.5
CANARY_ROWS = 400_000_000
CANARY_WARM = 3  # unrecorded canaries first: its own first runs are slower


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot. Steal is time the
    hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def host_record(spark, cpus: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": f"local[{cpus}]",
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "mem_total_mb": _meminfo_mb("MemTotal"),
    }


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def canary(spark) -> float:
    """A fixed pure-JVM job (no Python, no shuffle) timed between shots."""
    import time

    t0 = time.perf_counter()
    spark.range(CANARY_ROWS).selectExpr("sum(id % 997)").head()
    return time.perf_counter() - t0


def contention(shots: list[float], canaries: list[float]) -> dict:
    """Flag a run whose shots or canaries spread beyond CONTENTION_RATIO.

    Each series is normalised to its own in-run minimum, so the flag needs
    no reference time from another host or another day. The spread is the
    second-slowest sample over the fastest: one slow sample does not flag,
    two do. A series of fewer than three samples cannot flag."""

    def spread(xs: list[float]) -> float:
        if len(xs) < 3 or min(xs) <= 0:
            return 1.0
        return sorted(xs)[-2] / min(xs)

    s, c = spread(shots), spread(canaries)
    return {
        "shot_spread": round(s, 4),
        "canary_spread": round(c, 4),
        "canary_median_s": round(statistics.median(canaries), 4) if canaries else None,
        "ratio_limit": CONTENTION_RATIO,
        "contended": s > CONTENTION_RATIO or c > CONTENTION_RATIO,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ")" are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants (driver, JVM,
    Python workers), read from /proc. Each process counts its proportional
    share (PSS) of pages it shares, so the forked Python workers do not
    count the daemon's pages once each."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended between listing and reading
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread; `peak_mb`
    is the largest sum seen."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)
