"""Tests for the event-log parser and the per-span metrics.

    python3 -m pytest perfbench/test_spans.py -q

``eventlog_small.jsonl`` is a trimmed Spark 4.1.2 event log (written with
``spark.eventLog.compress=false``) of two job groups on ``local[2]``:
``perfbench-span-0`` ran a ``mapInPandas`` stage feeding a ``groupBy``, and
``perfbench-span-1`` a plain ``count``. Trimming dropped the environment and
SQL-plan events and kept only the job-group local property.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (  # noqa: E402
    PER_LAYER,
    PY_INIT,
    PY_RUN,
    PY_SENT,
    SORT_FALLBACK,
    Span,
    parse_event_log,
    parse_event_logs,
    span_metrics,
)

RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_small.jsonl")


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, launch, finish, run_ms, cpu_ns, gc_ms=0, shuffle=0, out=0, ok=True):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": not ok,
                      "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def _stage_done(stage, accums):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": stage,
                       "Accumulables": [{"Name": k, "Value": v} for k, v in accums.items()]},
    }


# Span 1 ("layer", 2.0 s .. 6.0 s) runs job 0 (stages 0 and 1); job 1 runs in
# span 0 ("root", 0 .. 10 s) outside any child. Times are epoch ms.
SYNTHETIC = [
    _job(0, [0, 1], "perfbench-span-1"),
    _task(0, 2000, 3000, 900, 800_000_000, gc_ms=10, shuffle=2 * 1024 * 1024),
    _task(0, 2500, 3500, 1000, 900_000_000, gc_ms=20, shuffle=1024 * 1024),
    _stage_done(0, {PY_INIT: 3000, PY_RUN: 1000, PY_SENT: 4 * 1024 * 1024,
                    "some other metric": 7}),
    _task(1, 4000, 5000, 1000, 500_000_000, out=1024 * 1024, ok=False),
    _stage_done(1, {SORT_FALLBACK: 1}),
    _job(1, [2], "perfbench-span-0"),
    _task(2, 7000, 9000, 2000, 1_000_000_000),
]
SPANS = [
    Span(0, "root", 0, None, 0.0, 10.0),
    Span(1, "layer", 0, 0, 2.0, 6.0),
]


def _groups():
    return parse_event_log(json.dumps(e) for e in SYNTHETIC)


def test_groups_attribute_tasks_and_stage_metrics():
    g = _groups()
    layer, root = g["perfbench-span-1"], g["perfbench-span-0"]
    assert (layer.jobs, len(layer.tasks), layer.failed_tasks) == (1, 3, 1)
    assert layer.accums[PY_INIT] == 3000 and layer.accums[SORT_FALLBACK] == 1
    assert "some other metric" not in layer.accums
    assert layer.shuffle_write_bytes == 3 * 1024 * 1024
    assert layer.output_bytes == 1024 * 1024
    assert (root.jobs, len(root.tasks)) == (1, 1)


def test_leaf_span_metrics():
    m = span_metrics(SPANS[1], SPANS, _groups(), cores=2)
    assert m["wall_s"] == pytest.approx(4.0)
    assert m["self_s"] == pytest.approx(4.0)
    assert m["tasks"] == 3 and m["jobs"] == 1 and m["failed_tasks"] == 1
    assert m["task_cpu_s"] == pytest.approx(2.2)
    # 2.9 s of task run time over 4 s x 2 cores
    assert m["core_busy_share"] == pytest.approx(2.9 / 8.0)
    # tasks cover 2.0-3.5 s and 4.0-5.0 s of the 2.0-6.0 s span
    assert m["no_task_share"] == pytest.approx(1.0 - 2.5 / 4.0)
    assert (m["py_init_s"], m["py_run_s"]) == pytest.approx((3.0, 1.0))
    assert m["py_init_share"] == pytest.approx(0.75)
    assert m["py_sent_mb"] == pytest.approx(4.0)
    assert m["shuffle_write_mb"] == pytest.approx(3.0)
    assert m["gc_s"] == pytest.approx(0.03)
    assert m["sort_fallback_tasks"] == 1 and m["output_mb"] == pytest.approx(1.0)


def test_parent_span_includes_children_and_excludes_their_time():
    m = span_metrics(SPANS[0], SPANS, _groups(), cores=2)
    assert m["wall_s"] == pytest.approx(10.0)
    assert m["self_s"] == pytest.approx(6.0)
    assert m["tasks"] == 4 and m["jobs"] == 2
    assert m["no_task_share"] == pytest.approx(1.0 - 4.5 / 10.0)
    assert m["self_s"] >= 0 and m["self_s"] <= m["wall_s"]


def test_span_without_jobs_reports_zero_work():
    lone = Span(2, "session.get_spark", -1, None, 1.0, 1.5)
    m = span_metrics(lone, SPANS + [lone], _groups(), cores=2)
    assert m["wall_s"] == pytest.approx(0.5)
    assert (m["tasks"], m["jobs"], m["py_init_share"], m["no_task_share"]) == (0, 0, 0, 1)


def test_recorded_spark_event_log():
    groups = parse_event_logs([RECORDED])
    py, plain = groups["perfbench-span-0"], groups["perfbench-span-1"]
    assert py.jobs >= 1 and plain.jobs >= 1
    assert len(py.tasks) > 0 and len(plain.tasks) > 0
    assert py.failed_tasks == 0 and plain.failed_tasks == 0
    assert py.accums[PY_INIT] > 0 and py.accums[PY_RUN] > 0 and py.accums[PY_SENT] > 0
    assert PY_INIT not in plain.accums
    assert py.shuffle_write_bytes > 0
    for launch, finish, run_ms, cpu_ns, _ in py.tasks + plain.tasks:
        assert launch <= finish and run_ms >= 0 and cpu_ns >= 0
    lo = min(t[0] for t in py.tasks) / 1000.0
    hi = max(t[1] for t in py.tasks) / 1000.0
    sp = Span(0, "layer", 0, None, lo, hi)
    m = span_metrics(sp, [sp], groups, cores=2)
    assert 0.0 <= m["no_task_share"] < 1.0
    assert 0.0 < m["core_busy_share"] <= 1.0
    assert 0.0 < m["py_init_share"] < 1.0


def test_per_layer_metric_budget():
    names = [f"{s}.{f}" for s, fams in PER_LAYER.items() for f in fams]
    assert len(names) == len(set(names))
    assert len(names) + 2 <= 128  # plus failed_tasks and trace_overhead_s
