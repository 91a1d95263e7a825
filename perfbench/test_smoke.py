"""Smoke test of the benchmark: every workload run.py knows (the ones
in BENCHMARK.json and the ungated ``catalog_data_sf0.1``), one short
run untraced and one traced, from the checkout root.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that every metric BENCHMARK.json names is emitted with its
unit, that no entry failed or mismatched its oracle, and that the
traced spans cover each traced pass's wall time to within 10%.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload(workload, trace):
    result = _run(workload, trace)
    assert result["failed"] == 0 and result["correct"], result
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if trace:
        coverage = result["metrics"]["trace.coverage_frac"]["value"]
        assert 0.9 <= coverage <= 1.0 + 1e-9, coverage
