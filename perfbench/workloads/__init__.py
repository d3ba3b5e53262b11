"""The workloads and what they hand back to ``run.py``.

Every workload returns an ``Outcome`` with the same end-to-end metric
names, so the runs of different workloads compare metric by metric:

- ``cpu_s``: CPU seconds of the Python driver, the Spark JVM and the
  JVM's process tree spent on the workload's unit of work;
- ``wall_s``: closed-loop wall of that same unit of work.

BENCHMARK.json declares which of them are printed.  ``report`` carries
the named report metrics (``catalog_wall_s``,
``live_scan_p50_ms``, ...) and ``layers`` the per-layer metrics of a
traced run.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    traced: bool
    work: str
    t0: float
    tracer: object
    first_timed: Optional[float] = None
    phases: dict = field(default_factory=dict)

    def mark(self, phase: str) -> None:
        """Record the set-up time spent since the previous mark."""
        now = time.perf_counter()
        self.phases[phase] = now - self.t0 - sum(self.phases.values())

    def start_timing(self) -> None:
        """Mark the first timed operation: set-up ends here."""
        if self.first_timed is None:
            self.mark("rest")
            self.first_timed = time.perf_counter()

    @property
    def setup_s(self) -> float:
        return self.first_timed - self.t0


@dataclass
class Outcome:
    attempted: int
    failures: list
    e2e: dict
    report: dict  # name -> (value, unit)
    inputs: dict
    layers: dict = field(default_factory=dict)
    lateness: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def run_workload(name: str, ctx: Ctx) -> Outcome:
    if name == "catalog":
        from perfbench.workloads.catalog import run
    else:
        from perfbench.workloads.live import run
    return run(ctx)

