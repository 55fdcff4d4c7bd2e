"""Checks for the benchmark's own tracing code (no Spark session needed).

    python3 -m pytest perfbench/test_tracer.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "src")]

import pyarrow as pa  # noqa: E402

from ocrflow import chartables, kernel, synth  # noqa: E402
from eventlog import read_groups  # noqa: E402
from run import _canon  # noqa: E402
from tracer import SpanRecorder, kernel_targets, replay_kernel  # noqa: E402


def _batches(n: int = 600, size: int = 150):
    rows = synth.gen_rows(n, seed=7, monster_every=0)
    table = pa.Table.from_pylist(
        [{k: r[k] for k in ("conv_id", "turn_idx", "text", "role")} for r in rows])
    return table.to_batches(max_chunksize=size)


def test_self_times_sum_to_extract_batch_wall():
    batches, weights = _batches(), chartables.default_weights()
    for b in batches:
        kernel.extract_batch(b, weights)
    rec = SpanRecorder()
    with rec.patched(kernel_targets()):
        t0 = time.perf_counter()
        for b in batches:
            kernel.extract_batch(b, weights)
        wall = time.perf_counter() - t0
    self_sum = sum(rec.self_time(label) for _, _, label, *_ in kernel_targets())
    assert abs(self_sum - wall) <= 0.05 * wall
    assert all(rec.self_time(label) >= 0 for _, _, label, *_ in kernel_targets())
    assert len(rec.durations["kernel.extract_batch"]) == len(batches)


def test_wrapped_output_equals_unwrapped():
    rep = replay_kernel(_batches(), chartables.default_weights(), rounds=2)
    assert rep.mismatched_batches == 0
    assert rep.recorder.counts["blocks"] >= rep.recorder.counts["blocks_kept"] > 0


def test_patched_restores_every_attribute():
    before = [getattr(owner, attr) for owner, attr, *_ in kernel_targets()]
    try:
        with SpanRecorder().patched(kernel_targets()):
            raise KeyError("boom")
    except KeyError:
        pass
    assert [getattr(owner, attr) for owner, attr, *_ in kernel_targets()] == before


def test_event_log_groups_stages_and_tasks(tmp_path):
    def task(stage, run_ms, read_b=0, write_b=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 1, "Memory Bytes Spilled": 0,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": read_b},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": write_b}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract#0"}},
        task(0, 200, write_b=50), task(0, 300, write_b=70),
        task(1, 900, read_b=120),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        task(2, 5),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = read_groups(str(log))
    g = groups["extract#0"]
    assert g.jobs == 1 and sorted(g.stages) == [0, 1]
    assert g.stages[0].shuffle_write_b == 120 and g.stages[1].shuffle_read_b == 120
    assert g.total("run_s") == 1.4 and g.stages[0].task_s == [0.2, 0.3]
    assert groups["(none)"].stages[2].tasks == 1


def test_fingerprint_rendering_ignores_row_and_array_order():
    assert _canon([3, 1, 2]) == _canon([2, 3, 1])
    assert _canon(-0.0) == _canon(0.0)
    assert _canon(0.1 + 0.2) == _canon(0.3)
    assert _canon((1, "a")) != _canon(("a", 1))
