"""Per-run host record: steal, a CPU calibration loop, load, JVM memory.

A run that met a steal burst reads slow for reasons outside the code, so
every run carries the evidence to tell the two apart (README.md, "Reading
a run").
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time

from stats import parse_cpu_line, steal_share


def read_cpu() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return parse_cpu_line(f.read())


def calibrate_ms(reps: int = 5, n: int = 200_000) -> float:
    """Median wall time of a fixed pure-Python loop: a slow reading before
    or after the run means the host, not the program, was slow."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def git_commit(root: str) -> str:
    """HEAD of the checkout, or "unknown" where the checkout is not itself
    a git work tree (git would otherwise report an enclosing repository)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = out.stdout.splitlines()
    if out.returncode != 0 or len(lines) != 2:
        return "unknown"
    top, head = lines
    return head if os.path.realpath(top) == os.path.realpath(root) else "unknown"


class HostRecord:
    """Opened at process start, closed after the last timed item."""

    def __init__(self, root: str):
        self.cpu_start = read_cpu()
        self.loadavg_start = os.getloadavg()[0]
        self.commit = git_commit(root)
        self.calib_before_ms = calibrate_ms()
        self.calib_after_ms = None
        self.steal = None
        self.jvm_peak_rss_mb = 0.0

    def close(self, jvm_pid: int | None) -> None:
        self.steal = steal_share(self.cpu_start, read_cpu())
        self.calib_after_ms = calibrate_ms()
        if jvm_pid:
            self.jvm_peak_rss_mb = peak_rss_mb(jvm_pid)

    def as_dict(self) -> dict:
        return {
            "steal_share": self.steal,
            "calib_before_ms": self.calib_before_ms,
            "calib_after_ms": self.calib_after_ms,
            "loadavg_start": self.loadavg_start,
            "jvm_peak_rss_mb": self.jvm_peak_rss_mb,
            "commit": self.commit,
        }
