"""Offline test (no Spark) of bench.py's stdout payload: the headline
total covers every measured key, and crashed keys are excluded from it
and listed by name."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_total_covers_every_key_and_lists_failed():
    timings = {f"q{i:02d}_{'x' * 40}": round(0.1 * i, 3) for i in range(90)}
    timings["q_crashed_a"] = -1.0
    timings["q_crashed_b"] = -1.0
    canary = {"median": 0.4, "idle_floor": 0.39, "ratio": 1.03}
    line = json.dumps(bench._payload(timings, 0.1, canary))
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["queries"] == timings
    assert parsed["value"] == round(sum(v for v in timings.values() if v >= 0), 3)
    assert parsed["failed"] == ["q_crashed_a", "q_crashed_b"]
    assert parsed["canary"] == canary
    assert parsed["sf"] == 0.1
