"""What every workload shares: the operation log and the per-layer helpers."""

from __future__ import annotations

import contextlib
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, and its
    label; the maximum, labelled with the sample count, when there are too
    few samples for any percentile."""
    ordered = sorted(values)
    n = len(ordered)
    if not n:
        return 0.0, "n=0"
    for pct in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - pct / 100) >= 10:
            return ordered[min(n - 1, int(pct / 100 * n))], f"p{pct:g} of n={n}"
    return ordered[-1], f"max of n={n}"


class OpLog:
    """Attempted and failed operations, and the timings of the measured ones.

    An operation's time covers only its call; its output check runs after
    the clock stops. A failed operation still adds its time to the pass it
    belongs to, but gives no latency sample.
    """

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failing: set[str] = set()
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.pass_seconds: list[float] = []
        self.op_pass: dict[int, int] = {}  # measured op id -> pass index
        self.last_seconds = 0.0
        self._pass = 0.0

    def begin_pass(self) -> None:
        self._pass = 0.0

    def end_pass(self, measured: bool) -> None:
        if measured:
            self.pass_seconds.append(self._pass)

    def run(self, kind: str, fn, check, measured: bool, span: str | None = None):
        op_id = self.attempted
        self.attempted += 1
        if measured:
            self.op_pass[op_id] = len(self.pass_seconds)
        self.tracer.operation(op_id)
        ctx = self.tracer.span(span) if span else contextlib.nullcontext()
        t = time.perf_counter()
        try:
            with ctx:
                out = fn()
        except Exception:
            self.last_seconds = time.perf_counter() - t
            self._pass += self.last_seconds
            self._fail(kind, "raised")
            return None
        dt = self.last_seconds = time.perf_counter() - t
        self._pass += dt
        self.tracer.operation(None)
        try:
            check(out)
        except Exception:
            self._fail(kind, "failed its output check")
            return out
        if measured:
            self.latency[kind].append(dt)
        return out

    def _fail(self, kind: str, how: str) -> None:
        self.tracer.operation(None)
        self.failed += 1
        self.failing.add(kind)
        print(f"perfbench: operation {kind} {how}:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


class Workload:
    """One benchmark workload; subclasses fill in the hooks below."""

    NAMED_UNITS: dict[str, str] = {}
    MIN_PASSES = 1  # measured passes a full-size run makes at least


    def __init__(self, data: Path, seed: int, smoke: bool, tracer):
        self.data = data
        self.seed = seed
        self.smoke = smoke
        self.tracer = tracer
        self.log = OpLog(tracer)
        self.tails: dict[str, str] = {}  # tail metric -> which percentile it is
        self.min_passes = 1 if smoke else self.MIN_PASSES
        data.mkdir(parents=True, exist_ok=True)

    def generate(self) -> dict:
        """Write the seeded inputs (not timed); returns their sizes."""
        raise NotImplementedError

    def installed(self):
        """Context in which the traced run's wrappers are in place."""
        return contextlib.nullcontext()

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def step(self, spark, measured: bool) -> None:
        """One pass of the closed loop."""
        raise NotImplementedError

    def named_metrics(self) -> dict[str, float]:
        raise NotImplementedError

    def layer_metrics(self, tracer, costs) -> dict[str, float]:
        raise NotImplementedError

    def measured_spans(self, tracer, name: str):
        return [s for s in tracer.spans if s.name == name and s.op in self.log.op_pass]


def children(tracer, span, name: str):
    return [s for s in tracer.spans if s.parent == span.id and s.name == name]
