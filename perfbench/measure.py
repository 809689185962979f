"""Small measurement helpers: percentiles, peak RSS, the host CPU probe."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import time


def p50(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the p90, interpolated between ranks.

    The highest percentile with at least ten samples beyond it would sit at
    or below the p67 for the 10-30 samples one window holds, and it jumps
    whenever the count crosses a step; the p90 moves smoothly with the data
    and meets that rule from 100 samples on."""
    n = len(xs)
    if n < 2:
        return (float(xs[0]) if xs else 0.0), 90.0, n
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8]), 90.0, n


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM, from /proc."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def cpu_probe_s(units: int = 3) -> float:
    """Fixed single-process sha256 chain; its wall time reads the host's
    CPU weather next to every other number."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(units * 150_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's hidden ``.crc`` and
    ``_SUCCESS`` markers excluded)."""
    total = 0
    for dp, _dn, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns
                     if not f.startswith((".", "_")))
    return total


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_info(spark) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }
