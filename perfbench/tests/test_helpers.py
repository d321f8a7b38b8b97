"""Tests of the benchmark's own helpers; no Spark session needed.

    python -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

from perfbench.gate import CorrectnessError, check_exact, check_ranked  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Span,
    Tracer,
    aggregate_event_log,
    driver_serial_s,
    self_time,
    span_stats,
    union_length,
)
from perfbench.workloads import median, percentile  # noqa: E402

# ------------------------------------------------------------ percentile


def test_percentile_interpolates_linearly():
    assert percentile([3.0], 90) == 3.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert median([5.0, 1.0, 3.0]) == 3.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0], 90) == (
        pytest.approx(9.1)
    )
    assert percentile([0.81, 1.3, 0.77, 2.5], 25) == pytest.approx(0.8)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([1.0], 101)


# ------------------------------------------------------------ spans


def span(i, parent, start, end, name="s"):
    return Span(id=i, parent=parent, name=name, start=start, end=end)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(11, 12)], 0, 10) == 0
    assert union_length([(1, 2), (1, 2)], 0, 10) == 1
    assert union_length([(1, 5), (2, 3)], 0, 10) == 4  # a nested interval


def test_self_time_subtracts_covered_part_once():
    parent = span(1, None, 0.0, 10.0)
    kids = [span(2, 1, 1.0, 4.0), span(3, 1, 3.0, 6.0), span(4, 1, 8.0, 12.0)]
    # children cover [1, 6] and [8, 10] of the parent: 7 s of 10
    assert self_time(parent, kids) == pytest.approx(3.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_wraps_and_pauses():
    t = Tracer()
    add = t.wrap("add", lambda a, b: a + b)
    with t.span("outer", kind="x") as outer:
        assert add(2, 3) == 5
        with t.span("inner") as inner:
            pass
    t.active = False
    with t.span("ignored") as ignored:
        assert ignored is None
    assert [s.name for s in t.spans] == ["outer", "add", "inner"]
    assert inner.parent == outer.id and t.named("add")[0].parent == outer.id
    assert outer.attrs == {"kind": "x"}
    assert [s.name for s in t.subtree(outer)][0] == "outer"
    assert {s.name for s in t.subtree(outer)} == {"outer", "add", "inner"}
    assert all(s.end >= s.start for s in t.spans)


def test_dump_writes_spans_with_self_time(tmp_path):
    t = Tracer()
    t.spans = [span(1, None, 0.0, 4.0, "query"), span(2, 1, 1.0, 2.5, "exec")]
    path = tmp_path / "trace.json"
    t.dump(str(path), {"host": {"nproc": 4}})
    doc = json.loads(path.read_text())
    assert [s["self_s"] for s in doc["spans"]] == [2.5, 1.5]
    assert doc["host"] == {"nproc": 4}
    assert path.read_text().endswith("\n")


def test_tracer_closes_span_when_call_raises():
    t = Tracer()
    with pytest.raises(RuntimeError):
        with t.span("boom"):
            raise RuntimeError("x")
    assert t.spans[0].end >= t.spans[0].start
    with t.span("after") as after:
        pass
    assert after.parent is None


# ------------------------------------------------------------ event log


def job_start(jid, group, t_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Stage IDs": stages, "Properties": props}


def stage(sid, group, attempt=0):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": attempt},
            "Properties": props}


def task(sid, run_ms, ok=True, rows=0, in_bytes=0, shuffle=0, out=0, gc=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc,
            "Input Metrics": {"Records Read": rows, "Bytes Read": in_bytes},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def job_end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t_ms}


EVENTS = [
    job_start(0, "perfbench-1", 1_000, [0]),
    stage(0, "perfbench-1"),
    task(0, 400, rows=10, in_bytes=100, gc=20),
    task(0, 600, rows=5, in_bytes=50),
    job_end(0, 2_000),
    job_start(1, "perfbench-2", 3_000, [1, 2]),
    stage(1, "perfbench-2"),
    task(1, 250, ok=False),
    stage(1, "perfbench-2", attempt=1),
    task(1, 300, shuffle=64),
    stage(2, "perfbench-2"),
    task(2, 100, out=512),
    job_end(1, 4_500),
    job_start(2, None, 5_000, [3]),
    stage(3, None),
    task(3, 50),
    job_end(2, 5_100),
]


def test_aggregate_event_log_per_group():
    g = aggregate_event_log(EVENTS)
    a, b, none = g["perfbench-1"], g["perfbench-2"], g[""]
    assert (a.jobs, a.tasks, a.failed_tasks, a.retried_stages) == (1, 2, 0, 0)
    assert a.task_run_s == pytest.approx(1.0) and a.gc_s == pytest.approx(0.02)
    assert (a.input_rows, a.input_bytes) == (15, 150)
    assert a.job_intervals == [(1.0, 2.0)]
    assert (b.jobs, b.tasks, b.failed_tasks, b.retried_stages) == (1, 3, 1, 1)
    assert (b.shuffle_write_bytes, b.output_bytes) == (64, 512)
    assert b.task_run_s == pytest.approx(0.65)
    assert none.jobs == 1 and none.tasks == 1


def test_span_stats_sum_subtree_and_driver_serial_time():
    t = Tracer()
    root = span(1, None, 0.5, 5.0, "query")
    child = span(2, 1, 2.5, 4.8, "exec")
    other = span(3, None, 6.0, 7.0, "other")
    t.spans = [root, child, other]
    g = aggregate_event_log(EVENTS)
    st = span_stats(t, g, root)
    assert (st.jobs, st.tasks, st.failed_tasks) == (2, 5, 1)
    assert sorted(st.job_intervals) == [(1.0, 2.0), (3.0, 4.5)]
    # jobs cover [1, 2] and [3, 4.5] of the 4.5 s query span
    assert driver_serial_s(root, st) == pytest.approx(2.0)
    assert span_stats(t, g, other).jobs == 0


# ------------------------------------------------------------ gate


def test_check_exact_and_check_ranked():
    rows = [("r", "a", "c1", 2.0, 0, 1), ("r", "b", "c2", 1.0, 1, 4)]
    check_exact("ok", rows, list(rows))
    with pytest.raises(CorrectnessError):
        check_exact("order", rows, rows[::-1])
    scores = {("r", "a", "c1"): 2.0, ("r", "b", "c2"): 1.0, ("r", "z", "c3"): 1.0}
    check_ranked("tie", rows, scores, 2)
    with pytest.raises(CorrectnessError):  # a better document is missing
        check_ranked("miss", rows[1:], scores, 1)
    with pytest.raises(CorrectnessError):  # wrong score for the identity
        check_ranked("score", [("r", "z", "c3", 2.0, 0, 1)], {("r", "z", "c3"): 1.0,
                                                             ("r", "y", "c"): 2.0}, 1)
    with pytest.raises(CorrectnessError):  # tie not in (segment, doc) order
        check_ranked("ties", [("r", "b", "c2", 1.0, 1, 4), ("r", "z", "c3", 1.0, 0, 9)],
                     {("r", "b", "c2"): 1.0, ("r", "z", "c3"): 1.0}, 2)
