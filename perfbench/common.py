"""Shared pieces of the workload modules: run context, result record, and
the timed set-up helper."""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

SETUP_MIN_REPS, SETUP_MIN_S = 4, 2.0


@dataclass
class Context:
    spark: Any
    root: str          # scratch root of this run; workloads write only below it
    seed: int
    seconds: float
    rec: Any           # tracing.Recorder (disabled unless traced)
    traced: bool
    inputs: Any        # what the workload's generate() returned


@dataclass
class Result:
    """Every workload times two kinds of operation: a write (bulk work that
    changes tables) and a read (one interactive query). Traced runs add an
    operator step (a compute-heavy engine operator). Per kind: one latency
    per operation, the items (rows, queries, documents) they handled, and
    the seconds over which they ran."""

    setup_s: list[float] = field(default_factory=list)
    write_ms: list[float] = field(default_factory=list)
    write_rows: float = 0.0
    write_s: float = 0.0
    read_ms: list[float] = field(default_factory=list)
    reads: int = 0
    read_s: float = 0.0
    op_ms: list[float] = field(default_factory=list)
    op_items: float = 0.0
    op_s: float = 0.0
    attempted: int = 0         # operations issued (timed ops plus checks)
    failed: int = 0            # operations that raised plus checks that failed
    errors: list[str] = field(default_factory=list)  # failures and wrong outputs
    report: dict = field(default_factory=dict)       # named end-to-end metrics
    extra: dict = field(default_factory=dict)        # workload scratch for layer metrics
    phases: dict = field(default_factory=dict)       # wall seconds per phase of the run
    _last: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Close the current phase: its wall time goes into ``phases``."""
        now = time.perf_counter()
        self.phases[phase] = round(self.phases.get(phase, 0.0) + now - self._last, 2)
        self._last = now

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a failed one is recorded as an error."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def fail(self, what: str, e: Exception) -> None:
        """Count one operation that raised."""
        self.failed += 1
        self.errors.append(f"{what}: {type(e).__name__}: {e}"[:300])


def timed_setups(res: Result, one_setup) -> Any:
    """Run ``one_setup(i)`` at least SETUP_MIN_REPS times and until
    SETUP_MIN_S seconds have passed, so a quick set-up is repeated often
    enough for a steady median. Keeps every duration and returns the last
    set-up's state (the one the measured phases use)."""
    state, i, t_end = None, 0, time.perf_counter() + SETUP_MIN_S
    while i < SETUP_MIN_REPS or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        state = one_setup(i)
        res.setup_s.append(time.perf_counter() - t0)
        i += 1
    return state
