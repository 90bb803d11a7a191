"""Operation records, quantiles and process-tree measurements shared by
the workloads."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool
    traced: bool = False
    detail: str = ""
    #: the operation's root span, in a traced operation
    root: int | None = None


@dataclass
class Window:
    """One measured stretch of closed-loop operations."""

    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    cpu_s: float = 0.0
    ambient_cpu_frac: float = 0.0
    peak_rss_mb: float = 0.0
    #: wall seconds of each whole cycle or pass in the window
    units: list[float] = field(default_factory=list)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the Python driver plus the Spark
    JVM it launched."""
    from pyspark import SparkContext

    kb = _vm_hwm_kb(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


class Meter:
    """Wall time, process-tree CPU time and ambient CPU share of a window.
    The /proc readers are bench.py's, so both benchmarks count alike."""

    def __init__(self) -> None:
        import bench

        self._bench = bench

    def start(self) -> dict:
        snap = self._bench._ambient_snapshot()
        snap["wall"] = time.perf_counter()
        return snap

    def stop(self, start: dict, window: Window) -> None:
        end = self._bench._ambient_snapshot()
        window.wall_s = time.perf_counter() - start["wall"]
        window.cpu_s = (end["own_jiffies"] - start["own_jiffies"]) / CLK_TCK
        window.ambient_cpu_frac = self._bench._ambient_load(start, end)["ambient_cpu_frac"]
