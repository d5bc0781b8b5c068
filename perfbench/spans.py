"""Spans around asterlake's public layer calls, and their Spark cost.

A span records its name, start, end, parent and operation id; spans stay in
memory until the run ends. Each span sets its own Spark job group, so the
event log (``spark.eventLog.*``, written by the traced run only) attributes
every job, task, executor CPU second, shuffle byte and spilled byte to the
innermost span that launched it. Streaming micro-batches run on the stream's
own thread, outside any job group, so drains are attributed through the
progress events the streaming listener bus writes to the same log: each
progress event goes to the innermost span open at its trigger time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    wall_start: float
    end: float = 0.0
    wall_end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Cost:
    """Spark work attributed to one span (its own jobs, not its children's)."""

    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    records_written: int = 0
    progress: list = field(default_factory=list)


class NullTracer:
    """Tracing off: spans cost one context-manager entry and nothing else."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def operation(self, op_id: int | None) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self.sc = None  # the measured session's SparkContext, set once it is up

    def operation(self, op_id: int | None) -> None:
        self._op = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, parent.id if parent else None, self._op,
            time.perf_counter(), time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end, s.wall_end = time.perf_counter(), time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty(_GROUP_KEY, None)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def rebind(self, module, names: dict[str, str]):
        """Point `module`'s imported names at span-recording wrappers."""
        saved = {attr: getattr(module, attr) for attr in names}
        for attr, span_name in names.items():
            setattr(module, attr, self.wrap(saved[attr], span_name))
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)

    def self_seconds(self, span: Span) -> float:
        """Duration minus the time its direct children cover (children of
        one span never overlap: the workloads are single-threaded)."""
        return span.seconds - sum(c.seconds for c in self.spans if c.parent == span.id)

    def costs(self, event_log_dir: str) -> dict[int, Cost]:
        """Parse the event log into per-span Spark cost, keyed by span id."""
        by_group = {s.group: s.id for s in self.spans}
        costs = {s.id: Cost() for s in self.spans}
        stage_span: dict[int, int] = {}
        progress = []
        for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True),
                           key=_log_order):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        sid = by_group.get((ev.get("Properties") or {}).get(_GROUP_KEY))
                        if sid is None:
                            continue
                        costs[sid].jobs += 1
                        for st in ev.get("Stage Infos", []):
                            stage_span.setdefault(st["Stage ID"], sid)
                    elif kind == "SparkListenerTaskEnd":
                        sid = stage_span.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if sid is None or not m:
                            continue
                        c = costs[sid]
                        c.tasks += 1
                        c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                        c.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                        c.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                        c.bytes_written += m["Output Metrics"]["Bytes Written"]
                        c.records_written += m["Output Metrics"]["Records Written"]
                    elif kind.endswith("QueryProgressEvent"):
                        progress.append(ev["progress"])
        for p in progress:
            sid = self._innermost_at(_epoch(p["timestamp"]))
            if sid is not None:
                costs[sid].progress.append(p)
        return costs

    def _innermost_at(self, wall: float) -> int | None:
        best = None
        for s in self.spans:
            if s.wall_start <= wall <= s.wall_end and (best is None or s.wall_start >= best.wall_start):
                best = s
        return best.id if best else None


def _log_order(path: str) -> tuple[str, int]:
    """Rolled event-log files are events_<n>_<app>; read them in n order."""
    return os.path.dirname(path), int(os.path.basename(path).split("_")[1])


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """Sum one drain's micro-batch progress into the per-layer fields."""
    out = {
        "add_batch_ms": 0.0, "query_planning_ms": 0.0, "wal_commit_ms": 0.0,
        "input_rows": 0.0, "state_rows_total": 0.0, "state_commit_ms": 0.0,
        "state_memory_bytes": 0.0,
    }
    for p in progress:
        d = p.get("durationMs") or {}
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["query_planning_ms"] += d.get("queryPlanning", 0)
        out["wal_commit_ms"] += d.get("walCommit", 0)
        # the event log serializes the progress's fields, and the input row
        # count is not one of them: it is the sum over the sources
        out["input_rows"] += sum(src.get("numInputRows", 0) for src in p.get("sources") or [])
        ops = p.get("stateOperators") or []
        out["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in ops)
        # state size is a level, not a flow: keep the drain's largest
        out["state_rows_total"] = max(out["state_rows_total"], sum(s.get("numRowsTotal", 0) for s in ops))
        out["state_memory_bytes"] = max(out["state_memory_bytes"], sum(s.get("memoryUsedBytes", 0) for s in ops))
    return out
