"""Host noise and memory, read from /proc (Linux only, no dependencies)."""

from __future__ import annotations

import os
import statistics
import threading
import time

RSS_INTERVAL_S = 0.1
PROBE_ROWS = 3_000_000
# about the probe's median on a 4-vCPU Xeon guest: wall times scaled by
# PROBE_NOMINAL_S / probe time read as they would at that host speed
PROBE_NOMINAL_S = 0.03


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice, so it is not added again
    return vals[7], sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, int]]:
    """({ppid: [pid]}, {pid: rss bytes}, {pid: cpu ticks}) of every visible
    process.  CPU ticks are user + system of the process and of its reaped
    children, so a tree's sum does not drop when a worker exits."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    cpu: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue  # exited while we looked
        fields = stat.rsplit(")", 1)[1].split()   # from field 3, the state
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = pages * page
        cpu[int(name)] = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return children, rss, cpu


def descendants(root_pid: int, children: dict[int, list[int]] | None = None) -> list[int]:
    if children is None:
        children = _proc_table()[0]
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants
    (driver, JVM, Python workers)."""
    children, rss, _ = _proc_table()
    return rss.get(root_pid, 0) + sum(rss.get(p, 0) for p in descendants(root_pid, children))


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds spent so far by ``root_pid`` and all its descendants.
    Time the hypervisor stole is not in it, unlike wall time."""
    children, _, cpu = _proc_table()
    ticks = cpu.get(root_pid, 0) + sum(cpu.get(p, 0) for p in descendants(root_pid, children))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's summed RSS on a background thread:
    ``samples`` holds (monotonic time, bytes) pairs."""

    def __init__(self):
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.samples.append((time.monotonic(), _tree_rss_bytes(os.getpid())))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def peak(self) -> int:
        return max(b for _, b in self.samples)

    def median_between(self, t0: float, t1: float) -> float:
        return statistics.median(b for t, b in self.samples if t0 <= t <= t1)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class SpeedProbe:
    """The host's current speed: the wall time of a fixed, JVM-only Spark
    job that runs no engine code.  It runs in a session of its own with
    pinned SQL settings, so that a change to the engine's session does not
    move it.  Taken after each timed op, it sees the same load from other
    tenants of the host as the ops around it."""

    def __init__(self, spark):
        s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", "1")
        self._df = s.range(PROBE_ROWS, numPartitions=1).selectExpr("sum(id * id % 7)")
        self.times: list[float] = []

    def __call__(self) -> None:
        t = time.perf_counter()
        self._df.collect()
        self.times.append(time.perf_counter() - t)

    def factor(self) -> float:
        """PROBE_NOMINAL_S ÷ the median probe time."""
        return PROBE_NOMINAL_S / statistics.median(self.times)
