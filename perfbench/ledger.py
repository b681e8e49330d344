"""Span ledger: wrap the package's layer functions from outside, fold the
Spark event log into per-span job/task/CPU/byte counts, and compute each
span's self time (its duration minus the part its child spans cover).

Spans nest per thread.  A Spark job is attributed to the deepest span that
was open when the job was submitted (event-log ``Submission Time`` against
span wall-clock bounds), so jobs that a layer submits from its own worker
threads still land on that layer.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "ida_ice_energy_simulation_etl_pipeline_spark"

# measure name -> unit, in the order they are reported
MEASURES = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "input_bytes": "B",
    "shuffle_write_bytes": "B",
    "output_bytes": "B",
}
_COUNTERS = ("tasks", "executor_cpu_s", "input_bytes", "records_read",
             "shuffle_write_bytes", "output_bytes")


@dataclass(eq=False)
class Span:
    name: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    label: str | None = None
    rows_out: int = 0
    children: list["Span"] = field(default_factory=list)
    jobs: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_COUNTERS, 0.0))

    @property
    def depth(self) -> int:
        return 0 if self.parent is None else self.parent.depth + 1

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        covered, last = 0.0, self.start
        for c in sorted(self.children, key=lambda s: s.start):
            lo, hi = max(c.start, last), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.wall_s - covered


class Tracer:
    """Records spans around wrapped functions and explicit ``span`` blocks."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, label: str | None = None) -> Span:
        stack = self._stack()
        span = Span(name, stack[-1] if stack else None, time.time(), label=label)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()
        with self._lock:
            if span.parent is not None:
                span.parent.children.append(span)
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        s = self.open(name, label)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, layer: str) -> None:
        """Wrap ``<module>.<function>`` (relative to the package) and point
        every package module that imported the function at the wrapper."""
        module, _, fn = layer.rpartition(".")
        orig = getattr(importlib.import_module(f"{PACKAGE}.{module}"), fn)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = self.open(layer)
            try:
                return orig(*args, **kwargs)
            finally:
                self.close(span)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for attr in [a for a, v in vars(mod).items() if v is orig]:
                    setattr(mod, attr, traced)
                    self._patches.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()

    def attribute(self, jobs: list[dict]) -> int:
        """Add each job's counts to the deepest span open at its submission;
        returns the number of jobs that fell outside every span."""
        outside = 0
        for job in jobs:
            t = job["submit_s"]
            open_spans = [s for s in self.spans if s.start <= t <= s.end]
            if not open_spans:
                outside += 1
                continue
            span = max(open_spans, key=lambda s: (s.depth, s.start))
            span.jobs += 1
            for k in _COUNTERS:
                span.counters[k] += job[k]
        return outside


def fold_event_log(log_dir: Path) -> list[dict]:
    """One record per job: submission time (s) and the summed task metrics
    of the stages it listed first."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(p for p in Path(log_dir).rglob("events_*") if p.is_file()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit_s": ev["Submission Time"] / 1000.0,
                                 **dict.fromkeys(_COUNTERS, 0.0)}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    inp = m.get("Input Metrics", {})
                    job["input_bytes"] += inp.get("Bytes Read", 0)
                    job["records_read"] += inp.get("Records Read", 0)
                    job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    job["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return list(jobs.values())


def per_call_means(spans: list[Span], name: str) -> dict[str, float]:
    """Mean per call of every measure over the spans called ``name``
    (zeros when the workload never reached that layer)."""
    mine = [s for s in spans if s.name == name]
    if not mine:
        return dict.fromkeys(MEASURES, 0.0)
    n = len(mine)
    out = {
        "self_s": sum(s.self_s for s in mine) / n,
        "jobs": sum(s.jobs for s in mine) / n,
    }
    for k in MEASURES:
        if k not in out:
            out[k] = sum(s.counters[k] for s in mine) / n
    return out


def self_time_closure(root: Span) -> float:
    """|sum of self times over root's subtree - root's wall time|."""
    total, todo = 0.0, [root]
    while todo:
        s = todo.pop()
        total += s.self_s
        todo.extend(s.children)
    return abs(total - root.wall_s)


def totals(spans: list[Span], name: str) -> dict[str, float]:
    """Summed job counters over the spans called ``name``."""
    out: dict[str, float] = dict.fromkeys(_COUNTERS, 0.0)
    for s in spans:
        if s.name == name:
            for k, v in s.counters.items():
                out[k] += v
    return out
