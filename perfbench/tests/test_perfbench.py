"""Tests of the benchmark's own measurement code, on recorded inputs.

``data/eventlog_sample.jsonl`` is a trimmed Spark 4 event log of three
job groups: ``s0`` ran a two-task ``mapInPandas`` count (two jobs, the
second reading the first's shuffle), ``s1`` a two-task ``groupBy``
count, and one job ran without a group. ``data/spans_sample.json`` is a
span list of one FIC month and its gold refresh, with overlapping and
overhanging children.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, stats, tracing

DATA = os.path.join(os.path.dirname(__file__), "data")


def _spans():
    with open(os.path.join(DATA, "spans_sample.json"), encoding="utf-8") as fh:
        return [tracing.Span(**d) for d in json.load(fh)]


def test_event_log_counts_per_job_group():
    groups = eventlog.parse_file(os.path.join(DATA, "eventlog_sample.jsonl"))
    assert set(groups) == {"s0", "s1", None}
    py = groups["s0"]
    # stage 1 was skipped (its shuffle output was reused): not counted
    assert (py.jobs, py.stages, py.tasks, py.failed_tasks) == (2, 2, 3, 0)
    assert py.executor_run_ms == 2262 + 2347 + 60
    assert py.executor_cpu_ns == 213543372 + 382072056 + 59579939
    assert (py.shuffle_write_bytes, py.shuffle_read_bytes) == (118, 118)
    assert (py.py_bytes_sent, py.py_bytes_received) == (2 * 592, 2 * 576)
    assert py.py_rows_received == 100
    assert py.py_stage_run_ms == 2262 + 2347
    shuffle = groups["s1"]
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (2, 2, 3)
    assert (shuffle.shuffle_write_bytes, shuffle.shuffle_read_bytes) == (364, 364)
    assert (shuffle.py_bytes_sent, shuffle.py_rows_received, shuffle.py_stage_run_ms) == (0, 0, 0)
    assert (groups[None].jobs, groups[None].tasks, groups[None].executor_run_ms) == (1, 1, 25)


def test_event_log_failed_task_and_retried_stage():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Stage IDs": [9],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {"Failed": True, "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Stage Attempt ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Failed": False, "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 7, "Input Metrics": {"Bytes Read": 1024}}},
    ]
    g = eventlog.parse(json.dumps(e) for e in lines)["g"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 2, 2, 1)
    assert (g.executor_run_ms, g.input_bytes) == (12, 1024)


def test_self_time_subtracts_clipped_union_of_children():
    spans = _spans()
    selfs = tracing.self_times(spans)
    # month 10..20: children cover 10..18 (transform and write overlap
    # 13..13.5) and 19.5..20 of the skip list, which overhangs to 21
    assert selfs["p0s0"] == pytest.approx(10.0 - 8.0 - 0.5)
    assert selfs["p0s5"] == pytest.approx(3.0 - 2.0)
    assert selfs["p0s3"] == pytest.approx(5.0)  # leaves keep their duration
    layers = tracing.by_layer(spans)
    assert layers["fic.month"] == {"n": 1, "total_s": 10.0, "self_s": pytest.approx(1.5)}
    assert all(v >= 0 for v in selfs.values())


def test_tracer_nests_spans_and_shares_the_operation_id():
    t = tracing.Tracer(prefix="p1s")
    with t.span("fic.month", op="2025_02"):
        with t.span("stores.write_drop"):
            pass
    outer, inner = t.spans
    assert (inner.parent, inner.op, inner.id) == (outer.id, "2025_02", "p1s1")
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = tracing.Tracer(enabled=False)
    with off.span("operators.build", op="q01"):
        pass
    assert off.spans == []


def test_tail_takes_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    q, v, n = stats.tail(xs)
    assert (q, n) == (90.0, 100)
    assert stats.beyond(xs, q) == 10
    assert v == pytest.approx(90.1)
    q, v, n = stats.tail(xs[:36])
    assert (q, n) == (70.0, 36) and stats.beyond(xs[:36], q) == 11
    # fewer than 20 samples: no percentile has ten beyond it, report the maximum
    assert stats.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)


def test_percentile_and_gmean():
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 50) == pytest.approx(2.5)
    assert stats.percentile([5.0], 90) == 5.0
    assert stats.gmean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
