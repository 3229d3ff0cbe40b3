"""The benchmark emits every metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench/test_metrics.py

Runs without Spark: metrics are computed from synthetic op records.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import probes  # noqa: E402
import run  # noqa: E402
from workloads import Op  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _records(n: int = 5) -> list[run.Record]:
    ops = [Op(f"op{i}", lambda seq: (None, None), rows_in=1000 * (i + 1), bytes_in=10) for i in range(n)]
    t = 1_000.0
    recs = []
    for i, op in enumerate(ops):
        recs.append(run.Record(op, i + 1, t, t + 0.5 + i, 0.5 + i, 0.1 if i % 2 else None, None, None))
        t += 1.0 + i
    return recs


def _emitted(metrics: dict, units: dict) -> dict:
    line = run.result_line(metrics, units, attempted=5, failed=0)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return {k: v["unit"] for k, v in out["metrics"].items()}


def test_end_to_end_metrics_match_benchmark_json():
    metrics = run.end_to_end(_records(), window_s=20.0, cpu_s=3.0, setup_s=12.0, rss_mb=900.0)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert _emitted(metrics, run.END_TO_END_UNITS) == want
    assert all(v > 0 for v in metrics.values())


def test_per_layer_metrics_match_benchmark_json():
    timers = probes.LayerTimers({}, run.PACKAGE)
    elog = {"jobs": {}, "completed_stages": set(), "tasks": [], "sql": [(1_000.1, 1_000.3)]}
    metrics = run.per_layer(_records(), 20.0, {"start_s": 5.0, "warm_s": 9.0}, timers, elog, None)
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert _emitted(metrics, run.PER_LAYER_UNITS) == want


def test_workloads_match_benchmark_json():
    assert tuple(w["name"] for w in SPEC["workloads"]) == run.WORKLOAD_NAMES
    assert SPEC["command"][1:] == ["perfbench/run.py"]


def test_covered_s_merges_overlaps_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 9.0)]
    assert probes.covered_s(spans, 1.5, 6.0) == 1.5 + 1.0
