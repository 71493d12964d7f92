"""Per-layer tracing for the benchmark's traced run.

A layer's public function is wrapped where its callers look it up (a
module attribute), so the traced run makes the same calls in the same
order as the untraced workload. Each wrapped call:

- opens a span (name, start, end, parent, iteration) kept in memory;
- runs under its own Spark job group, so every job it launches is
  attributed to exactly one span (its *self* jobs; a nested wrapped call
  owns its own);
- forces a returned DataFrame with cache + count inside the span, so
  lazy work lands in the layer that built it;
- right after the span closes, reads its jobs, stages and tasks from
  ``statusTracker()`` (before the tracker's retention limit drops them).

Shuffle bytes, spill, task run time and job intervals come afterwards
from the Spark event log the traced process writes (see
:func:`read_event_log`); :func:`layer_metrics` combines both per layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

QUANTITIES = (
    "self_s",
    "driver_s",
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "rows_out",
    "shuffle_write_mb",
    "spill_mb",
    "core_util",
)
_MB = 1 << 20


@dataclass
class Span:
    sid: int
    layer: str
    call: str
    parent: int | None
    iteration: int
    start: float
    end: float = 0.0
    group: str = ""
    jobs: list = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    rows_out: int = 0


@dataclass(frozen=True)
class Target:
    """A layer entry point: ``module.attr`` is replaced by a traced
    wrapper. ``rows`` maps (result, args) to the rows the call produced
    when the result is not a DataFrame (a DataFrame is counted by the
    forcing count)."""

    module: str
    attr: str
    layer: str
    rows: Callable | None = None


class Tracer:
    """Records spans for one traced process; ``install`` wraps targets,
    ``iteration`` opens the per-iteration root span."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached: list = []
        self._installed: list[tuple] = []
        self.it = -1

    # ------------------------------------------------------------ spans
    def _open(self, layer: str, call: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), layer, call, parent, self.it, 0.0)
        span.group = f"perfbench-{span.sid}"
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span.group, f"{layer}:{call}")
        span.start = time.time()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top.group, f"{top.layer}:{top.call}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        span.jobs = sorted(tracker.getJobIdsForGroup(span.group))
        for jid in span.jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                done = stage.numCompletedTasks if stage else 0
                failed = stage.numFailedTasks if stage else 0
                if done + failed:  # a skipped stage ran no task
                    span.stages += 1
                    span.tasks += done + failed
                    span.failed_tasks += failed

    def iteration(self, it: int, fn: Callable):
        """Run ``fn()`` as iteration ``it`` under the root span."""
        self.it = it
        span = self._open("workload", self.workload)
        try:
            return fn()
        finally:
            self._close(span)

    def release(self) -> None:
        """Unpersist what the forcing cached (outside any span)."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # ---------------------------------------------------------- wrappers
    def _force(self, out, target: Target, args) -> int:
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out.cache()
            self._cached.append(out)
            return out.count()
        return target.rows(out, args) if target.rows else 0

    def wrap(self, target: Target, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            span = self._open(target.layer, target.attr)
            try:
                out = fn(*args, **kwargs)
                span.rows_out = self._force(out, target, args)
            finally:
                self._close(span)
            return out

        traced.__wrapped__ = fn
        return traced

    def install(self, targets: list[Target]) -> None:
        import importlib

        for t in targets:
            mod = importlib.import_module(t.module)
            orig = getattr(mod, t.attr)
            self._installed.append((mod, t.attr, orig))
            setattr(mod, t.attr, self.wrap(t, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._installed):
            setattr(mod, attr, orig)
        self._installed.clear()


# ------------------------------------------------------------ event log
@dataclass
class EventLog:
    job_span: dict  # job id -> (submit_s, complete_s)
    group_run_ms: dict  # group -> sum of task executor run time
    group_shuffle: dict  # group -> shuffle bytes written
    group_spill: dict  # group -> disk bytes spilled


def read_event_log(log_dir: str) -> EventLog:
    """Aggregate task metrics per job group from the (stopped) session's
    event log. A stage shared by several jobs is charged to the first."""
    job_span, stage_group = {}, {}
    run_ms, shuffle, spill = {}, {}, {}
    submit = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    submit[jid] = ev["Submission Time"] / 1000
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    job_span[jid] = (
                        submit.get(jid, ev["Completion Time"] / 1000),
                        ev["Completion Time"] / 1000,
                    )
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    run_ms[group] = run_ms.get(group, 0) + m.get(
                        "Executor Run Time", 0
                    )
                    sw = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    shuffle[group] = shuffle.get(group, 0) + sw
                    spill[group] = spill.get(group, 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return EventLog(job_span, run_ms, shuffle, spill)


# ------------------------------------------------------------ intervals
def _union(intervals: list) -> list:
    out: list = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def subtract(base: tuple, cuts: list) -> list:
    """Parts of interval ``base`` not covered by any interval in ``cuts``."""
    lo, hi = base
    out = []
    for a, b in _union(cuts):
        if b <= lo or a >= hi:
            continue
        if a > lo:
            out.append((lo, a))
        lo = max(lo, b)
    if lo < hi:
        out.append((lo, hi))
    return out


def covered(parts: list, cuts: list) -> float:
    """Total length of ``parts`` that ``cuts`` covers."""
    total = sum(b - a for a, b in parts)
    left = sum(b - a for p in parts for a, b in subtract(p, cuts))
    return total - left


# ---------------------------------------------------------- aggregation
def span_self(spans: list[Span]) -> dict:
    """sid -> self intervals (the span minus its child spans)."""
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: subtract((s.start, s.end), kids.get(s.sid, [])) for s in spans}


def layer_metrics(
    spans: list[Span], log: EventLog, layers: list[str], cores: int
) -> dict:
    """``<layer>.<quantity>`` -> median over traced iterations of the
    per-iteration sum over the layer's spans. Layers the workload never
    calls read 0."""
    selfs = span_self(spans)
    jobs_iv = list(log.job_span.values())
    per_it: dict = {}
    for s in spans:
        if s.layer not in layers:
            continue
        acc = per_it.setdefault(s.iteration, {}).setdefault(
            s.layer, dict.fromkeys(QUANTITIES + ("run_s",), 0.0)
        )
        self_s = sum(b - a for a, b in selfs[s.sid])
        acc["self_s"] += self_s
        acc["driver_s"] += self_s - covered(selfs[s.sid], jobs_iv)
        acc["jobs"] += len(s.jobs)
        acc["stages"] += s.stages
        acc["tasks"] += s.tasks
        acc["failed_tasks"] += s.failed_tasks
        acc["rows_out"] += s.rows_out
        acc["shuffle_write_mb"] += log.group_shuffle.get(s.group, 0) / _MB
        acc["spill_mb"] += log.group_spill.get(s.group, 0) / _MB
        acc["run_s"] += log.group_run_ms.get(s.group, 0) / 1000
    out = {}
    for layer in layers:
        rows = [it[layer] for it in per_it.values() if layer in it]
        for q in QUANTITIES:
            if not rows:
                out[f"{layer}.{q}"] = 0.0
            elif q == "core_util":
                out[f"{layer}.{q}"] = statistics.median(
                    r["run_s"] / (r["self_s"] * cores) if r["self_s"] else 0.0
                    for r in rows
                )
            else:
                out[f"{layer}.{q}"] = statistics.median(r[q] for r in rows)
    return out


def span_records(spans: list[Span]) -> list[dict]:
    return [
        {
            "id": s.sid,
            "layer": s.layer,
            "call": s.call,
            "parent": s.parent,
            "iteration": s.iteration,
            "start": round(s.start, 6),
            "end": round(s.end, 6),
            "jobs": len(s.jobs),
            "rows_out": s.rows_out,
        }
        for s in spans
    ]
