"""Tests of the benchmark's metric maths and event-log parsing.

    python3 -m pytest -q perfbench/test_metrics.py
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import tracing  # noqa: E402


# ---------------------------------------------------------------- tails
@pytest.mark.parametrize("n,q", [
    (10, None),   # fewer than 11 samples: no percentile has 10 beyond it
    (11, 5),      # rank 0 of 11 leaves exactly 10 above
    (20, 50),     # floor(19 * .50) = 9 -> 10 above; p55 leaves 9
    (41, 75),     # floor(40 * .75) = 30 -> 10 above
    (100, 90),    # floor(99 * .90) = 89 -> 10 above; p95 leaves 5
    (1001, 99),   # floor(1000 * .99) = 990 -> 10 above
])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert metrics.tail_percentile(n) == q


def test_tail_percentile_is_the_highest_that_qualifies():
    for n in range(11, 400):
        q = metrics.tail_percentile(n)
        beyond = n - 1 - (n - 1) * q // 100
        assert beyond >= 10
        nxt = 99 if q == 95 else q + 5
        if q < 99:
            assert n - 1 - (n - 1) * nxt // 100 < 10


def test_tail_value_and_fallback():
    xs = [float(i) for i in range(1, 101)]   # 1..100
    v, q = metrics.tail(xs)
    assert q == 90 and v == pytest.approx(90.1)
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100)  # too few: the max
    assert metrics.tail([float(i) for i in range(15)]) == (14.0, 100)  # p20 < p50


def test_percentile_interpolates():
    assert metrics.percentile([1, 2, 3, 4], 50) == 2.5
    assert metrics.percentile([5], 90) == 5
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


# ------------------------------------------------------- interval union
def test_interval_union_merges_overlaps_and_ignores_empty():
    assert metrics.interval_union([]) == 0
    assert metrics.interval_union([(0, 1), (2, 3)]) == 2
    assert metrics.interval_union([(0, 2), (1, 3)]) == 3
    assert metrics.interval_union([(0, 10), (2, 3), (4, 5)]) == 10
    assert metrics.interval_union([(0, 1), (1, 2)]) == 2      # touching
    assert metrics.interval_union([(5, 5), (3, 1)]) == 0      # empty/reversed


def test_driver_gap_is_op_time_outside_its_jobs():
    # op 0..10, jobs 1..3 and 2..5 (overlap) and 8..12 (clipped to 10)
    assert metrics.driver_gap(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4
    assert metrics.driver_gap(0, 10, []) == 10
    assert metrics.driver_gap(0, 10, [(-5, 20)]) == 0


# ------------------------------------------------------------ self time
def test_self_time_subtracts_covered_child_time_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},   # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},   # grandchild
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past parent
    ]
    st = metrics.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)   # children cover 1..6 and 9..10
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


# ------------------------------------------------------ event log parse
def _ev(**kw):
    return json.dumps(kw)


def test_parse_event_log_attributes_jobs_stages_tasks_to_ops(tmp_path):
    g = tracing.JOB_GROUP_PREFIX
    task = lambda sid, launch, finish, run, cpu_ns, gc, rd, wr, spill: _ev(  # noqa: E731
        Event="SparkListenerTaskEnd", **{
            "Stage ID": sid, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc, "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                         "Local Bytes Read": rd},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": wr}}})
    lines = [
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": f"{g}7"}}),
        task(0, 1000, 1100, 90, 80_000_000, 5, 0, 300, 0),
        task(0, 1000, 1400, 390, 300_000_000, 0, 0, 100, 50),
        task(1, 1400, 1500, 100, 100_000_000, 0, 400, 0, 0),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
        # a job outside any op (e.g. the output checks) is ignored
        _ev(Event="SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 2000, "Stage IDs": [2],
            "Properties": {"spark.jobGroup.id": "perfbench-check"}}),
        task(2, 2000, 2100, 100, 1, 0, 0, 0, 0),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2100}),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(lines) + "\n")
    ops = tracing.parse_event_log(str(path))
    assert set(ops) == {7}
    r = ops[7]
    assert (r["jobs"], r["stages"], r["tasks"]) == (1, 2, 3)
    assert r["job_intervals"] == [(1.0, 1.5)]
    assert r["run_s"] == pytest.approx(0.58)
    assert r["cpu_s"] == pytest.approx(0.48)
    assert r["gc_s"] == pytest.approx(0.005)
    assert (r["shuffle_read"], r["shuffle_write"], r["spill"]) == (400, 400, 50)
    # longest stage is stage 0 (0.1 s + 0.4 s): max / median of its tasks
    assert r["task_skew"] == pytest.approx(0.4 / 0.25)
    assert tracing.op_gap(0.9, 1.6, r) == pytest.approx(0.2)


# ------------------------------------------------------ A/B verdicts
def test_compare_verdicts():
    import compare

    parent = [1.00, 1.02, 0.98, 1.01, 0.99, 1.00, 1.03, 0.97, 1.00, 1.01]
    faster = [x * 0.8 for x in parent]
    v = compare.verdict(parent, faster, "lower", 0.1)
    assert v["verdict"] == "improved" and v["won"] == 1.0
    assert v["ratio"] == pytest.approx(0.8)
    assert compare.verdict(parent, [x * 1.2 for x in parent], "lower",
                           0.1)["verdict"] == "regressed"
    # for a higher-is-better metric the same numbers are a regression
    assert compare.verdict(parent, faster, "higher", 0.1)["verdict"] == "regressed"
    assert compare.verdict(parent, parent, "lower", 0.1)["verdict"] == "same"
    noisy = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
    assert compare.verdict(noisy, noisy, "lower", 0.1)["verdict"] == "unresolved"


# ------------------------------------------------- BENCHMARK.json agreement
def test_benchmark_json_names_what_the_runner_prints():
    import layers
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.UNITS
    import workloads
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


# --------------------------------------------------------------- oracle
def test_same_result_treats_signed_zeros_as_one_value():
    import numpy as np
    import pandas as pd

    import oracle

    got = pd.DataFrame({"k": [1, 2], "v": [0.0, 1.5],
                        "a": [np.array([0.0, 2.0], "float32"), None]})
    want = pd.DataFrame({"k": [2, 1], "v": [1.5, -0.0],
                         "a": [None, np.array([-0.0, 2.0], "float32")]})
    assert oracle.same_result(got, want) is None
    want.loc[1, "v"] = 1e-9
    assert oracle.same_result(got, want) is not None
