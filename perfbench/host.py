"""Host key and provenance for every benchmark record."""

from __future__ import annotations

import importlib.metadata
import os
import platform
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal (guest time is already inside user)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(v) for v in fields[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def git_commit(root: str) -> str:
    """HEAD of the checkout when it is a git work tree, else "unknown"."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def versions() -> dict[str, str]:
    out = {"python": platform.python_version()}
    for dist in ("pyspark", "pyarrow", "numpy", "pandas", "duckdb"):
        try:
            out[dist] = importlib.metadata.version(dist)
        except importlib.metadata.PackageNotFoundError:
            out[dist] = "missing"
    return out


class HostWatch:
    """Load and steal over one run: snapshot at start, close at the end."""

    def __init__(self):
        self.load_start = os.getloadavg()
        self.cpu_start = cpu_times()
        self.t_start = time.time()

    def record(self, root: str) -> dict:
        return {
            "nproc": nproc(),
            "mem_total_gb": round(mem_total_gb(), 2),
            "loadavg_start": self.load_start,
            "loadavg_end": os.getloadavg(),
            "steal_share": steal_share(self.cpu_start, cpu_times()),
            "wall_s": time.time() - self.t_start,
            "git_commit": git_commit(root),
            "versions": versions(),
        }
