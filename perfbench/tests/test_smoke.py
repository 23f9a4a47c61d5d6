"""Smoke test of the benchmark at tiny input sizes.

Runs every workload untraced and traced, and checks that the run
succeeds, that every output check passed (fail_frac == 0), that every
named metric is printed with its unit, and that the last line carries
exactly the metrics BENCHMARK.json declares. Takes a few minutes:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")

# Every metric the benchmark names, per workload, with its unit.
NAMED = {
    "refresh": {
        "refresh_s": "s",
        "refresh_mb_per_s": "MB/s",
        "write_amplification": "ratio",
    },
    "serve": {
        "index_build_s": "s",
        "search_p50_ms": "ms",
        "search_recall_at_10": "fraction",
        "publish_p50_ms": "ms",
        "publish_rows_per_s": "rows/s",
        "write_amplification": "ratio",
    },
    "all": {
        "iter_p50_ms": "ms",
        "iter_cpu_s": "s",
        "fail_frac": "fraction",
        "setup_s": "s",
        "peak_rss_mb": "MB",
    },
}
WORKLOADS = {
    "refresh_small_docs": "refresh",
    "refresh_long_docs": "refresh",
    "serve_and_publish": "serve",
}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for line in lines:
        if line.startswith("metric "):
            _, name, value, unit = line.split()
            printed[name] = (float(value), unit)

    named = {**NAMED[WORKLOADS[workload]], **NAMED["all"]}
    for name, unit in named.items():
        assert name in printed, f"{name} not printed"
        assert printed[name][1] == unit, f"{name} printed in {printed[name][1]}, not {unit}"
    assert printed["fail_frac"][0] == 0

    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    with open(BENCHMARK) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace:
        for layer in ("vector_index.query", "jdbc.write") if workload == "serve_and_publish" else (
            "catalog.delta", "chunking.chunks", "deployment.metadata"
        ):
            assert result["metrics"][f"{layer}.self_s"]["value"] > 0, f"no {layer} span"
