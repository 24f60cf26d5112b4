"""Smoke test of the benchmark at its tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced. Every metric named in
BENCHMARK.json must come out with its unit, the outputs must check, and
the traced run's span tree must be well formed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    p = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_end_to_end_metrics(workload):
    result, lines = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in BENCH["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    assert any(line.startswith("error_rate 0 ") for line in lines)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run(workload):
    result, lines = _run(workload, 1)
    assert result["correct"], lines[-30:]
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
    spans = json.loads(next(line for line in lines if line.startswith("spans: "))[7:])
    ids = {s["id"] for s in spans}
    assert spans and all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["self"] >= 0 and s["duration"] >= s["self"] for s in spans)
    # every span the workload calls reports work from the event log
    names = {s["name"] for s in spans}
    for layer in ("raster.ops.render_slippy_tiles", "raster.ops.decode_features"):
        if layer in names:
            assert result["metrics"][f"{layer}.jobs"]["value"] >= 1
            assert result["metrics"][f"{layer}.python_s"]["value"] > 0
