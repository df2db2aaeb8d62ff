"""Unit tests for the benchmark's helpers; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import harness  # noqa: E402
import oracle  # noqa: E402
from spans import Span, Tracer, innermost_span, self_times  # noqa: E402


def _job_start(job_id, group, submit, stages):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Submission Time": submit,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group},
    }


def _job_end(job_id, done):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": done}


def _task(stage, run_ms, gc_ms, shuffle_w=0, shuffle_r=(0, 0), spill=0, inp=0, py_ms=None):
    accum = []
    if py_ms is not None:
        accum.append({"Name": eventlog.PY_WORKER_RUN, "Update": str(py_ms)})
        accum.append({"Name": "time to start Python workers", "Update": "999"})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": accum},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Memory Bytes Spilled": 12345,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {
                "Local Bytes Read": shuffle_r[0],
                "Remote Bytes Read": shuffle_r[1],
            },
            "Input Metrics": {"Bytes Read": inp},
        },
    }


#: Two queries. q1 runs jobs 0 and 1 (stages 0-2, three tasks); q2 runs
#: job 2, which lists stage 2 again (reused, runs nothing) and stage 3
#: (two tasks with Python workers).
EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job_start(0, "q1", 1_000, [0, 1]),
    _task(0, 100, 10, shuffle_w=500, inp=4000),
    _task(1, 50, 0, shuffle_r=(499, 1)),
    _job_end(0, 1_400),
    _job_start(1, "q1", 1_500, [2]),
    _task(2, 30, 5, spill=64),
    _job_end(1, 1_600),
    _job_start(2, "q2", 2_000, [2, 3]),
    _task(3, 200, 20, inp=100, py_ms=150),
    _task(3, 220, 0, inp=100, py_ms=170),
    _job_end(2, 2_300),
]


@pytest.fixture()
def log_path(tmp_path):
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return str(path)


def test_fold_by_job_group(log_path):
    jobs = eventlog.fold_jobs(eventlog.read_events(log_path))
    groups = eventlog.fold_groups(jobs.values())
    q1, q2 = groups["q1"], groups["q2"]
    assert (q1["jobs"], q1["tasks"], q2["jobs"], q2["tasks"]) == (2, 3, 1, 2)
    assert (q1["exec_run_ms"], q1["gc_ms"]) == (180, 15)
    assert (q2["exec_run_ms"], q2["gc_ms"]) == (420, 20)
    assert (q1["shuffle_write_bytes"], q1["shuffle_read_bytes"]) == (500, 500)
    assert (q1["spill_bytes"], q2["spill_bytes"]) == (64, 0)
    assert (q1["input_bytes"], q2["input_bytes"]) == (4000, 200)
    assert (q1["py_worker_ms"], q2["py_worker_ms"]) == (0, 320)
    assert q1["intervals"] == [(1_000, 1_400), (1_500, 1_600)]


def test_driver_gap_from_job_intervals(log_path):
    jobs = eventlog.fold_jobs(eventlog.read_events(log_path))
    q1 = eventlog.fold_groups(jobs.values())["q1"]
    # q1's operation ran 900..1700 ms; jobs cover 400 + 100 ms of it
    assert eventlog.covered(q1["intervals"], 900, 1_700) == 500
    assert eventlog.covered(q1["intervals"], 1_200, 1_550) == 250


def test_covered_merges_overlaps():
    assert eventlog.covered([(0, 4), (2, 6), (8, 9)], 0, 10) == 7
    assert eventlog.covered([], 0, 10) == 0
    assert eventlog.covered([(5, 20)], 0, 10) == 5


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", "harness", "o", None, 0.0, 10.0),
        Span(1, "a", "dedup", "o", 0, 1.0, 3.0),
        Span(2, "b", "graph", "o", 0, 2.0, 5.0),  # overlaps a
        Span(3, "c", "text", "o", 0, 8.0, 12.0),  # runs past the parent
        Span(4, "d", "graph", "o", 2, 2.5, 3.0),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10 - (4 + 2))
    assert selfs[2] == pytest.approx(3 - 0.5)
    assert selfs[1] == pytest.approx(2)
    assert innermost_span(spans, 2.7).span_id == 4
    assert innermost_span(spans, 9.0).span_id == 3
    assert innermost_span(spans, 20.0) is None


def test_tracer_wraps_and_restores(monkeypatch):
    import types

    mod = types.ModuleType("omop_dump_to_parquet_spark.fake_layer")

    def visible(x):
        return hidden(x) + 1

    def hidden(x):
        return x * 2

    visible.__module__ = hidden.__module__ = mod.__name__
    mod.visible, mod._hidden = visible, hidden
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    import spans

    monkeypatch.setattr(spans, "LAYERS", {"fake": mod.__name__})
    tracer = Tracer()
    assert tracer.install() == 1
    tracer.op = "op1"
    assert mod.visible(3) == 7
    assert mod.visible.__qualname__ == visible.__qualname__
    tracer.uninstall()
    assert mod.visible is visible
    assert [(s.name, s.layer, s.op) for s in tracer.spans] == [
        ("fake.visible", "fake", "op1")
    ]


def test_frames_match_normalizes_order_and_widths():
    import pandas as pd

    a = pd.DataFrame({"b": [2, 1], "a": [1.5, None]})
    b = pd.DataFrame({"a": [None, 1.5], "b": pd.array([1, 2], dtype="int32")})
    assert oracle.frames_match(a, b) is None
    c = b.assign(a=[None, 1.25])
    assert "mismatch" in oracle.frames_match(a, c)


def test_note_digest_ignores_row_order_and_types():
    import datetime as dt

    import pandas as pd

    src = pd.DataFrame(
        {
            "NOTE_ID": pd.array([0, 1], dtype="int32"),
            "PERSON_ID": pd.array([5, 6], dtype="int32"),
            "NOTE_DATE": [dt.date(2020, 1, 1), dt.date(2020, 1, 2)],
            "PROVIDER_ID": pd.array([None, 7], dtype="Int32"),
            "NOTE_TEXT": ["x", "y"],
        }
    )
    back = src.iloc[::-1].assign(PROVIDER_ID=pd.array([7, None], dtype="Int64"))
    assert oracle.note_digest(src) == oracle.note_digest(back)
    assert oracle.note_digest(src) != oracle.note_digest(back.assign(NOTE_TEXT=["y", "z"]))


def test_tail_percentile_needs_ten_beyond():
    assert harness.tail_percentile(5) is None
    assert harness.tail_percentile(20) == 50
    assert harness.tail_percentile(100) == 90


def test_benchmark_json_matches_reported_metrics():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
