"""Smoke test: every workload at the tiny size prints every metric named in
BENCHMARK.json with its unit, and its output checks ran and passed.

    python3 -m pytest perfbench/tests -q

Each case starts its own Spark session, so the module takes a few minutes.
"""

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int) -> tuple[str, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return proc.stdout, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["fleet", "interactive", "corpus"])
def test_end_to_end_metrics_and_checks(workload):
    out, result = run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    n_checks = int(re.search(r"^checks passed (\d+)$", out, re.M).group(1))
    assert n_checks > 0
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0
        assert re.search(rf"^{re.escape(m['name'])} \S+ {re.escape(m['unit'])}$", out, re.M)


@pytest.mark.parametrize("workload, layer", [
    ("interactive", "forecaster.manual_forecast_jobs"),
    ("fleet", "selection.tune_test_forecast_jobs"),
    ("corpus", "dedup.minhash_signatures_jobs"),
])
def test_trace_reports_every_layer_metric(workload, layer):
    out, result = run(workload, trace=1)
    assert result["correct"] is True
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert result["metrics"][layer]["value"] > 0
    assert result["metrics"]["process.peak_rss_mb"]["value"] > 0
