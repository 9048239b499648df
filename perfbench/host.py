"""Host-side measurements: CPU steal/iowait over a phase, process-tree RSS,
and the per-run host record. Linux /proc only; nothing here gates a run."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal, iowait and busy shares of all CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1  # user nice system idle iowait irq softirq steal
    idle = d[3] + d[4]
    return {
        "steal_frac": d[7] / total,
        "iowait_frac": d[4] / total,
        "busy_frac": (total - idle) / total,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # comm may contain spaces; ppid is the 2nd field after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread polling the RSS of this process and all its
    descendants (driver JVM, Python workers); ``peak`` holds the maximum."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def _commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown (not a git checkout)"


def host_record(root: str, cores: int, spark, phases: dict[str, dict]) -> dict:
    """Versions, load and the CPU shares measured over each timed phase."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cores_used": cores,
        "cpus_online": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "phases": phases,
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "platform": platform.platform(),
        "commit": _commit(root),
    }
