"""Shared plumbing: the run context, percentiles, host readings."""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Context:
    """What a workload gets from the runner."""

    spark: Any
    run_dir: str
    seed: int
    seconds: float
    tracer: Any = None  # tracing.Tracer in a traced loop, else None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def group(self, op: str, desc: str = "") -> None:
        """Tag the Spark jobs of the next operation (traced runs only:
        untraced runs make no extra JVM calls)."""
        if self.tracer is not None:
            self.tracer.group(op, desc)

    def end_ops(self) -> None:
        """Untag: set-up and check jobs after the measured loop are not
        any operation's."""
        if self.tracer is not None:
            self.tracer.clear_group()


@dataclass
class Outcome:
    """What a workload's measured loop hands back to the runner.

    ``op_s`` holds the latencies ``op_geomean_ms`` is the geometric mean
    of (one per Spark-backed request, or one median per query),
    ``wall_s`` the measured wall, ``attempted`` the operations run in
    it. ``layers`` carries the workload's own per-layer readings."""

    op_s: list[float]
    wall_s: float
    attempted: int
    failed: int
    measure_start: float = 0.0  # epoch seconds, bounds the traced window
    measure_end: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return 0.0
