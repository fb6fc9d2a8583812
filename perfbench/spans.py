"""Spans around layer calls, and the Spark event-log parser that turns them
into per-layer metrics.

A span records a layer call made by the benchmark: name, start, end, parent
span and iteration id. While a span is open its id is the thread's Spark job
group, so every job, stage and task Spark runs for that call carries it in the
event log. ``parse_event_log`` reads the (uncompressed) JSON-lines log and
groups task and stage metrics by job group; ``span_metrics`` combines one span
with its group's records.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from collections.abc import Iterable, Iterator
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

# Stage accumulables (SQL metrics) read from the event log, by Spark's name.
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
SORT_FALLBACK = "number of sort fallback tasks"
STAGE_ACCUMS = (PY_INIT, PY_RUN, PY_SENT, SORT_FALLBACK)
MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    iteration: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``sc`` set, tags Spark jobs with the open span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None  # the live SparkContext, set by the caller

    @contextmanager
    def span(self, name: str, iteration: int) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, iteration, parent and parent.id, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)


def maybe_span(tracer: Tracer | None, name: str, iteration: int):
    """``tracer.span`` when tracing, else a no-op context."""
    return tracer.span(name, iteration) if tracer else nullcontext()


@dataclass
class GroupStats:
    """What the event log says ran under one job group."""

    jobs: int = 0
    # per task: (launch_ms, finish_ms, run_ms, cpu_ns, gc_ms)
    tasks: list[tuple[int, int, int, int, int]] = field(default_factory=list)
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    accums: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    def merge(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.tasks.extend(other.tasks)
        self.failed_tasks += other.failed_tasks
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.output_bytes += other.output_bytes
        for k, v in other.accums.items():
            self.accums[k] += v


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines: Iterable[str]) -> dict[str | None, GroupStats]:
    """Group one application's event log by job group (``None`` = jobs run
    outside any span)."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(ev.get("Stage ID"))]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if info.get("Failed") or info.get("Killed") or reason != "Success":
                g.failed_tasks += 1
            g.tasks.append(
                (
                    int(info.get("Launch Time", 0)),
                    int(info.get("Finish Time", 0)),
                    int(m.get("Executor Run Time", 0)),
                    int(m.get("Executor CPU Time", 0)),
                    int(m.get("JVM GC Time", 0)),
                )
            )
            g.shuffle_write_bytes += int(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            g.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
            g.output_bytes += int((m.get("Output Metrics") or {}).get("Bytes Written", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            g = out[stage_group.get(info.get("Stage ID"))]
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in STAGE_ACCUMS:
                    g.accums[acc["Name"]] += _num(acc.get("Value"))
    return dict(out)


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files under ``spark.eventLog.dir``: Spark 4 writes one
    ``eventlog_v2_<app>/events_<n>_<app>`` directory per application."""
    out = []
    for root, _, files in os.walk(log_dir):
        out.extend(os.path.join(root, f) for f in sorted(files) if f.startswith("events_"))
    return sorted(out)


def parse_event_logs(paths: Iterable[str]) -> dict[str | None, GroupStats]:
    """Merge the logs of several applications (one per SparkContext)."""
    merged: dict[str | None, GroupStats] = defaultdict(GroupStats)
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for group, stats in parse_event_log(fh).items():
                merged[group].merge(stats)
    return dict(merged)


def _union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(
    span: Span,
    spans: list[Span],
    groups: dict[str | None, GroupStats],
    cores: int,
) -> dict[str, float]:
    """Every metric family for one span instance. Jobs of descendant spans
    count toward the span; ``self_s`` excludes the time its children cover."""
    children = [s for s in spans if s.parent == span.id]
    stats = GroupStats()
    todo = [span]
    while todo:
        s = todo.pop()
        stats.merge(groups.get(s.group, GroupStats()))
        todo.extend(c for c in spans if c.parent == s.id)
    lo, hi = span.start * 1000.0, span.end * 1000.0
    wall_ms = max(hi - lo, 1e-9)
    child_ms = _union_ms((max(c.start * 1000.0, lo), min(c.end * 1000.0, hi)) for c in children)
    busy_ms = _union_ms((max(t[0], lo), min(t[1], hi)) for t in stats.tasks)
    run_ms = sum(t[2] for t in stats.tasks)
    py_init = stats.accums.get(PY_INIT, 0.0) / 1000.0  # SQL timing metrics are in ms
    py_run = stats.accums.get(PY_RUN, 0.0) / 1000.0
    return {
        "wall_s": wall_ms / 1000.0,
        "self_s": (wall_ms - child_ms) / 1000.0,
        "tasks": float(len(stats.tasks)),
        "task_cpu_s": sum(t[3] for t in stats.tasks) / 1e9,
        "core_busy_share": run_ms / (wall_ms * cores),
        "no_task_share": 1.0 - busy_ms / wall_ms,
        "jobs": float(stats.jobs),
        "py_init_s": py_init,
        "py_run_s": py_run,
        "py_init_share": py_init / (py_init + py_run) if py_init + py_run > 0 else 0.0,
        "py_sent_mb": stats.accums.get(PY_SENT, 0.0) / MB,
        "shuffle_write_mb": stats.shuffle_write_bytes / MB,
        "spill_mb": stats.spill_bytes / MB,
        "gc_s": sum(t[4] for t in stats.tasks) / 1000.0,
        "sort_fallback_tasks": stats.accums.get(SORT_FALLBACK, 0.0),
        "output_mb": stats.output_bytes / MB,
        "failed_tasks": float(stats.failed_tasks),
    }


# Per-layer metrics reported by a traced run: span name -> metric families.
_ALL = ("wall_s", "self_s", "tasks", "task_cpu_s", "core_busy_share", "no_task_share")
_PY = ("py_init_s", "py_run_s", "py_init_share", "py_sent_mb")
_SHUFFLE = ("shuffle_write_mb", "spill_mb", "gc_s")
PER_LAYER: dict[str, tuple[str, ...]] = {
    "session.get_spark": ("wall_s",),
    "session.warmup": _ALL,
    "sources.synthetic_frames": _ALL + _SHUFFLE + ("sort_fallback_tasks",),
    "qa.generate_all": _ALL + _PY + _SHUFFLE,
    "qa.task.obj_obj_distance": _ALL + _PY,
    "qa.task.obj_obj_rel_pos": _ALL,
    "enrich.build_codebook": _ALL + _PY + _SHUFFLE + ("sort_fallback_tasks", "output_mb"),
    "enrich.apply_codebook": _ALL,
    "sources.write_frames": _ALL + ("output_mb",),
    "plans.build.curation_web_pipeline": _ALL + ("jobs",),
    "plans.execute.curation_web_pipeline": _ALL + ("jobs",) + _SHUFFLE + ("sort_fallback_tasks",),
}


def metric_unit(family: str) -> str:
    if family.endswith("_s"):
        return "s"
    if family.endswith("_mb"):
        return "MB"
    if family.endswith("_share"):
        return "ratio"
    return "count"
