"""Spans around calls into the package, and the Spark event-log parser.

The traced run never edits package code. ``Tracer.patch`` replaces a
function in the module namespace where the caller looks it up
(``plans.pipeline`` binds ``connected_components`` at import time,
``plans.queries`` imports it inside the query body, so both the binding
module and the defining module are patched) and restores it on exit.

Each span sets ``spark.job.description`` to its path
(``cycle/incremental_er.commit/blocking.pairs``) for the jobs its thread submits, so the event log ties
every job, stage and task to the innermost span that was open. With
``force=True`` a span also persists and counts the DataFrame the call
returns, so lazily-built stages are computed inside their own span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    path: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    rows: int | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list = []
        self._forced: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{parent.path}/{name}" if parent else name, time.perf_counter())
        self._stack.append(sp)
        self.sc.setJobDescription(sp.path)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.wall_s
            self.sc.setJobDescription(parent.path if parent else None)
            self.spans.append(sp)

    def _wrap(self, fn, name, force: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = name(*args, **kwargs) if callable(name) else name
            if span is None:
                return fn(*args, **kwargs)
            with self.span(span) as sp:
                out = fn(*args, **kwargs)
                if force and hasattr(out, "persist"):
                    out = out.persist()
                    sp.rows = out.count()
                    self._forced.append(out)
                return out

        return traced

    def patch(self, module, attr: str, name, force: bool = False) -> None:
        """Wrap ``module.attr`` in a span. ``name`` is the span name, or a
        function of the call's arguments giving it (None: no span)."""
        orig = getattr(module, attr)
        self._undo.append((module, attr, orig))
        setattr(module, attr, self._wrap(orig, name, force))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._undo):
            setattr(module, attr, orig)
        self._undo.clear()
        for df in self._forced:
            df.unpersist()
        self._forced.clear()


# -- Spark event log ------------------------------------------------------


@dataclass
class Profile:
    """Event-log totals for one job-description path."""

    jobs: int = 0
    stages: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    task_s: list = field(default_factory=list)

    def add(self, other: "Profile") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.run_s += other.run_s
        self.cpu_s += other.cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.output_bytes += other.output_bytes
        self.task_s.extend(other.task_s)


def _event_lines(log_dir: Path):
    """Spark 4 writes either one file per application or a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory; both uncompressed
    here (``spark.eventLog.compress=false``)."""
    files = [p for p in sorted(log_dir.rglob("*")) if p.is_file()]
    rolled = [p for p in files if p.name.startswith("events_")]
    if rolled:
        files = sorted(rolled, key=lambda p: int(p.name.split("_")[1]))
    for p in files:
        with p.open() as fh:
            yield from fh


def parse_event_log(log_dir: Path) -> dict[str, Profile]:
    """Profile per job description. A stage takes the description from the
    properties it was submitted with; its tasks' metrics sum into it."""
    desc_of_stage: dict[int, str] = {}
    out: dict[str, Profile] = {}

    def prof(desc: str) -> Profile:
        return out.setdefault(desc, Profile())

    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc:
                prof(desc).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc:
                desc_of_stage[ev["Stage Info"]["Stage ID"]] = desc
                prof(desc).stages += 1
        elif kind == "SparkListenerTaskEnd":
            desc = desc_of_stage.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if not desc or not m:
                continue
            p = prof(desc)
            info = ev["Task Info"]
            p.task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            p.run_s += m.get("Executor Run Time", 0) / 1e3
            p.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            p.gc_s += m.get("JVM GC Time", 0) / 1e3
            p.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get(
                "Memory Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            p.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            p.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def rollup(profiles: dict[str, Profile], match) -> Profile:
    """Sum the profiles whose span path satisfies ``match(elements)``."""
    total = Profile()
    for desc, p in profiles.items():
        if match(desc.split("/")):
            total.add(p)
    return total


def span_table(spans: list[Span], profiles: dict[str, Profile]) -> list[dict]:
    """One row per span path: calls, wall, self time and its own jobs with
    max/median task time (the skew view)."""
    rows: dict[str, dict] = {}
    for sp in spans:
        r = rows.setdefault(
            sp.path, {"span": sp.path, "calls": 0, "wall_s": 0.0, "self_s": 0.0}
        )
        r["calls"] += 1
        r["wall_s"] += sp.wall_s
        r["self_s"] += sp.self_s
    for path, r in rows.items():
        p = profiles.get(path, Profile())
        r.update(
            jobs=p.jobs,
            stages=p.stages,
            executor_run_s=round(p.run_s, 3),
            executor_cpu_s=round(p.cpu_s, 3),
            gc_s=round(p.gc_s, 3),
            shuffle_write_bytes=p.shuffle_write_bytes,
            spill_bytes=p.spill_bytes,
            task_max_s=max(p.task_s, default=0.0),
            task_median_s=statistics.median(p.task_s) if p.task_s else 0.0,
        )
        r["wall_s"] = round(r["wall_s"], 3)
        r["self_s"] = round(r["self_s"], 3)
    return sorted(rows.values(), key=lambda r: r["span"])
