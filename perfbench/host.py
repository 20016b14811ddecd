"""Host conditions recorded in every run's artifact, so a reader can tell
host drift (CPU steal, load from neighbours, a slower core) from a change in
the code: a ``/proc/stat`` steal delta, load averages, the CPU count, tool
versions, the source revision and a fixed single-thread calibration loop
timed at the start and at the end of the run."""

from __future__ import annotations

import hashlib
import os
import platform
import time
from pathlib import Path

_USER_HZ = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _steal_jiffies() -> int | None:
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return None
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) if len(fields) > 8 else None


def _loadavg() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def calibrate(n: int = 1_000_000) -> float:
    """Seconds for a fixed pure-Python loop on one thread (median of 3)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += (i * i) % 7
        times.append(time.perf_counter() - t0)
    return round(sorted(times)[1], 5)


def source_revision(root: Path) -> dict[str, str]:
    """git HEAD when the tree is a git checkout (read from files, no
    subprocess), and always a digest of the engine's source files, so a run
    from an exported tree still names the code it measured."""
    out: dict[str, str] = {}
    head = root / ".git" / "HEAD"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = root / ".git" / ref[5:]
            ref = ref_file.read_text().strip() if ref_file.is_file() else ref
        out["git_head"] = ref
    h = hashlib.sha256()
    pkg = root / "spark_ml_algo_lib_master_tongji_spark"
    for path in sorted(pkg.rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    out["source_sha256"] = h.hexdigest()[:16]
    return out


class HostRecord:
    """Start/end snapshot of the host around one run."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.steal0 = _steal_jiffies()
        self.start = {"loadavg": _loadavg(), "calibration_s": calibrate()}

    def finish(self, versions: dict[str, str], root: Path) -> dict:
        wall = time.perf_counter() - self.t0
        steal1 = _steal_jiffies()
        steal = None
        if self.steal0 is not None and steal1 is not None and wall > 0:
            steal = round((steal1 - self.steal0) / _USER_HZ / wall, 4)
        end = {"loadavg": _loadavg(), "calibration_s": calibrate()}
        drift = end["calibration_s"] / self.start["calibration_s"] - 1.0
        return {
            "cpus": cpus(),
            "steal_cpus": steal,
            "start": self.start,
            "end": end,
            "calibration_drift": round(drift, 4),
            "python": platform.python_version(),
            **versions,
            **source_revision(root),
        }
