"""Host record for a run.

The host record goes beside the numbers (never into a metric) so that
host drift — other tenants, CPU steal — is visible next to them.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def reference_loop_s() -> float:
    """Wall time of a fixed single-threaded numpy and pure-Python loop
    (0.1-0.2 s): a host-speed reading taken beside the timings."""
    import numpy as np
    a = np.random.default_rng(0).random(1_000_000)
    t0 = time.perf_counter()
    for _ in range(5):
        np.sort(a)
    acc = 0
    for k in range(400_000):
        acc += k * k
    return time.perf_counter() - t0


def snapshot() -> dict:
    return {"t": time.monotonic(), "loadavg": os.getloadavg(),
            "ticks": _cpu_ticks(), "reference_loop_s": reference_loop_s()}


def _git_sha(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def source_sha256(root: str) -> str:
    """Digest of the engine's sources (geopy_spark/ and jobs/), which
    identifies the code measured where no git metadata exists."""
    h = hashlib.sha256()
    for sub in ("geopy_spark", "jobs"):
        for r, dirs, files in sorted(os.walk(os.path.join(root, sub))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(r, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def record(before: dict, after: dict, slots: int, root: str) -> dict:
    """nproc, slots, load and the reference loop time before/after, steal
    and system CPU share over the interval, library versions and the
    source revision."""
    import numpy
    import pyspark
    d = [b - a for a, b in zip(before["ticks"], after["ticks"])]
    total = sum(d) or 1
    # /proc/stat cpu columns: user nice system idle iowait irq softirq steal
    return {
        "nproc": os.cpu_count(),
        "slots": slots,
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "reference_loop_s": [before["reference_loop_s"], after["reference_loop_s"]],
        "cpu_system_frac": round(d[2] / total, 4),
        "cpu_steal_frac": round(d[7] / total, 4) if len(d) > 7 else None,
        "cpu_busy_frac": round(1 - (d[3] + d[4]) / total, 4),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "git_sha": _git_sha(root),
        "source_sha256": source_sha256(root),
    }
