"""The shortest run of a workload (``--seconds 0``: the minimum of two
passes) at sf0.001, untraced and traced, through the benchmark's command
line: every declared metric is printed with its unit."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(workload: str, trace: int) -> list[str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()


@pytest.mark.parametrize("workload,trace", [("pipeline", 0), ("pipeline", 1), ("serve", 1)])
def test_every_declared_metric_is_printed_with_its_unit(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    lines = run(workload, trace)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(line.split()[::2] == [m["name"], m["unit"]] for line in lines[:-1]), m
    state = json.loads(next(line for line in lines if line.startswith("# state "))[8:])
    assert state["passes"] == 2 and state["seed"] == 3
    for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_LAYOUT_DIR",
                "SPARK_LOCAL_DIRS", "spark", "duckdb", "p90_samples_beyond",
                "p90_beyond_shortfall"):
        assert key in state
    assert any(line == "error_rate 0 ratio" for line in lines)
    if trace:
        batches = result["metrics"]["stream.batches_per_op"]["value"]
        assert batches > 0 if workload == "pipeline" else batches == 0
