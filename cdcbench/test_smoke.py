"""Toy-size smoke test of the benchmark: every workload, untraced and
traced, prints every metric named in BENCHMARK.json with its unit and
passes its correctness checks.

    python3 -m pytest cdcbench/test_smoke.py -q

Each case starts its own Spark session (about half a minute apiece).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_metric_with_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "cdcbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    ctx = json.loads(next(ln for ln in lines if ln.startswith("context "))[len("context "):])
    assert {"events", "bytes", "digest"} <= set(ctx["input"])
    assert ctx["memcpy_gbps_before"] > 0 and ctx["memcpy_gbps_after"] > 0
    if not trace:
        for m in want:
            assert out["metrics"][m["name"]]["value"] > 0, m["name"]
