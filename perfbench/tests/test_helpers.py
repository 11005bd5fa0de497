"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from eventlog import TaskSums, fold_events  # noqa: E402
from stats import (  # noqa: E402
    layer_sum_check,
    nearest_rank,
    prefix_self_times,
    tail_percentile,
)
from tracing import layer_task_sums, layer_times  # noqa: E402

# -- tail percentile: at least ten samples beyond ---------------------------


def test_tail_needs_ten_samples_beyond():
    # 10 samples: even p50 has only 5 beyond it -> no tail can be stated
    assert tail_percentile(list(range(10))) is None
    # 20 samples: p50 has exactly 10 beyond, p75 only 5
    assert tail_percentile([float(v) for v in range(1, 21)]) == (50.0, 10.0)


def test_tail_picks_highest_qualifying_percentile():
    values = [float(v) for v in range(1, 1001)]
    # p99: rank 990, 10 beyond -> qualifies; p99.9 has 1 beyond
    assert tail_percentile(values) == (99.0, 990.0)
    values = [float(v) for v in range(1, 201)]
    # p95: rank 190, 10 beyond; p99 has 2 beyond
    assert tail_percentile(values) == (95.0, 190.0)


def test_tail_ignores_input_order():
    values = [float(v) for v in range(100, 0, -1)]
    assert tail_percentile(values) == (90.0, 90.0)


def test_nearest_rank_counts_beyond():
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 50) == (2.0, 2)
    assert nearest_rank([5.0], 99) == (5.0, 0)


# -- prefix-difference self time --------------------------------------------


def test_prefix_self_times_are_differences_and_telescope():
    prefixes = [("sources", 1.0), ("operators", 2.5), ("sinks", 3.0)]
    selfs = prefix_self_times(prefixes)
    assert selfs == pytest.approx({"sources": 1.0, "operators": 1.5, "sinks": 0.5})
    assert sum(selfs.values()) == pytest.approx(3.0)


def test_prefix_self_times_keep_negative_noise():
    selfs = prefix_self_times([("a", 2.0), ("b", 1.9)])
    assert selfs["b"] == pytest.approx(-0.1)


def test_prefix_self_times_reject_repeated_layer():
    with pytest.raises(ValueError):
        prefix_self_times([("a", 1.0), ("a", 2.0)])


class _FakeTracer:
    def __init__(self, chain, calls=(), standalones=(), breaks=()):
        self.chain = list(chain)
        self.calls = list(calls)
        self.standalones = list(standalones)
        self.breaks = list(breaks)


def test_layer_times_add_calls_and_standalones():
    tr = _FakeTracer(
        chain=[("sources", 1.0, "0/sources"), ("operators.zonal", 3.0, "0/operators.zonal")],
        calls=[("operators.zonal", 0.2, "0/operators.zonal/call")],
        standalones=[("runtime.checkpoint.resume", 0.7, "0/runtime.checkpoint.resume")],
    )
    assert layer_times(tr) == pytest.approx(
        {"sources": 1.0, "operators.zonal": 2.2, "runtime.checkpoint.resume": 0.7}
    )


def test_layer_times_restart_after_a_materialised_step():
    # pipeline.cc checkpoints its output: runtime.salt reads the checkpoint,
    # so its prefix wall is not cumulative over the layers before it
    tr = _FakeTracer(
        chain=[
            ("sources", 1.0, "0/sources"),
            ("pipeline.cc", 4.0, "0/pipeline.cc"),
            ("runtime.salt", 0.5, "0/runtime.salt"),
            ("runtime.checkpoint.write", 1.5, "0/runtime.checkpoint.write"),
        ],
        breaks=[2],
    )
    got = layer_times(tr)
    assert got == pytest.approx({
        "sources": 1.0, "pipeline.cc": 3.0,
        "runtime.salt": 0.5, "runtime.checkpoint.write": 1.0,
    })
    # the self times telescope to the sum of each chain's last wall
    assert sum(got.values()) == pytest.approx(4.0 + 1.5)


# -- layer sums vs job wall ---------------------------------------------------


def test_layer_sum_check_within_and_outside_tolerance():
    gap, ok = layer_sum_check({"a": 1.0, "b": 0.95}, 2.0)
    assert gap == pytest.approx(0.025) and ok
    gap, ok = layer_sum_check({"a": 1.0, "b": 0.5}, 2.0)
    assert gap == pytest.approx(0.25) and not ok
    # overshoot counts the same as a shortfall
    assert layer_sum_check({"a": 2.3}, 2.0)[1] is False


def test_layer_sum_check_rejects_empty_wall():
    with pytest.raises(ValueError):
        layer_sum_check({"a": 1.0}, 0.0)


# -- event-log folding --------------------------------------------------------


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, cpu_ns=0, gc_ms=0, shuffle=0, spill=0, py=(), failed=False):
    return _ev(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {
                "Failed": failed,
                "Accumulables": [{"Name": n, "Update": v} for n, v in py],
            },
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": spill,
            },
        },
    )


def _log():
    g = "spark.jobGroup.id"
    return [
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1], "Properties": {g: "0/sources"}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}, "Properties": {g: "0/sources"}}),
        _task(0, cpu_ns=2_000_000_000, gc_ms=100, py=[("time to run Python workers", 1500)]),
        _task(0, cpu_ns=1_000_000_000, shuffle=10, py=[("time to start Python workers", 200)]),
        # stage 1 was listed by job 0 but is submitted by job 1 of another group
        _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1, 2], "Properties": {g: "0/operators.zonal"}}),
        _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}, "Properties": {g: "0/operators.zonal"}}),
        _task(1, cpu_ns=500_000_000, spill=4, failed=True),
        # untagged job: ignored
        _ev("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [3], "Properties": {}}),
        _task(3, cpu_ns=9_000_000_000),
        "",
    ]


def test_fold_events_sums_per_group():
    job_ids = {}
    sums = fold_events(_log(), job_ids)
    assert set(sums) == {"0/sources", "0/operators.zonal"}
    s = sums["0/sources"]
    assert (s.jobs, s.tasks, s.failed_tasks) == (1, 2, 0)
    assert s.cpu_s == pytest.approx(3.0)
    assert s.gc_s == pytest.approx(0.1)
    assert s.python_run_s == pytest.approx(1.5)
    assert s.python_boot_s == pytest.approx(0.2)
    assert s.shuffle_write_bytes == 10
    z = sums["0/operators.zonal"]
    assert (z.jobs, z.tasks, z.failed_tasks, z.spill_bytes) == (1, 1, 1, 8)
    assert job_ids == {"0/sources": [0], "0/operators.zonal": [1]}


def test_layer_task_sums_use_prefix_differences():
    sums = {
        "0/sources": TaskSums(jobs=2, tasks=4, cpu_s=3.0),
        "0/operators.zonal": TaskSums(jobs=5, tasks=10, cpu_s=4.0),
        "0/operators.zonal/call": TaskSums(jobs=1, tasks=1, cpu_s=0.1),
    }
    tr = _FakeTracer(
        chain=[("sources", 1.0, "0/sources"), ("operators.zonal", 2.0, "0/operators.zonal")],
        calls=[("operators.zonal", 0.1, "0/operators.zonal/call")],
    )
    out = layer_task_sums(tr, sums)
    assert out["sources"] == TaskSums(jobs=2, tasks=4, cpu_s=3.0)
    z = out["operators.zonal"]
    assert (z.jobs, z.tasks) == (4, 7)
    assert z.cpu_s == pytest.approx(1.1)


def test_layer_task_sums_restart_after_a_materialised_step():
    sums = {
        "0/pipeline.cc": TaskSums(jobs=9, tasks=30),
        "0/runtime.salt": TaskSums(jobs=2, tasks=5),
        "0/runtime.checkpoint.write": TaskSums(jobs=3, tasks=9),
    }
    tr = _FakeTracer(
        chain=[
            ("pipeline.cc", 4.0, "0/pipeline.cc"),
            ("runtime.salt", 0.5, "0/runtime.salt"),
            ("runtime.checkpoint.write", 1.5, "0/runtime.checkpoint.write"),
        ],
        breaks=[1],
    )
    out = layer_task_sums(tr, sums)
    assert out["pipeline.cc"] == TaskSums(jobs=9, tasks=30)
    assert out["runtime.salt"] == TaskSums(jobs=2, tasks=5)
    assert out["runtime.checkpoint.write"] == TaskSums(jobs=1, tasks=4)


# -- inputs and oracles -------------------------------------------------------


def test_snap_lands_off_the_document_grid():
    from inputs import snap

    for v in (-50.0, 3.9, 4.00005, 170.12345, -0.00001):
        s = snap(v)
        # an odd multiple of 0.00005: never a 4-decimal document coordinate
        k = round(s * 20000)
        assert abs(s * 20000 - k) < 1e-6 and k % 2 == 1
        assert abs(s - v) <= 0.0001


def test_oracle_pins_default_feature_set():
    pytest.importorskip("duckdb")
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))
    from inputs import DEFAULT_JOINED_ROWS_200K, DEFAULT_RECTS
    from oracles import joined_rows

    assert sum(joined_rows(200_000, DEFAULT_RECTS).values()) == DEFAULT_JOINED_ROWS_200K
