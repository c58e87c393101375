"""BENCHMARK.json's shape, its bounds against the ones the README states
and justifies with measured spreads, and the benchmark refusing to run
without the engine."""

import json
import os
import re
import shutil
import subprocess
import sys

from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_names_units_and_bounds():
    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
    assert all(w["why"] and "\n" not in w["why"] for w in s["workloads"])
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in s["end_to_end"] + s["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in s["end_to_end"])
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_bounds_are_the_ones_the_readme_states():
    with open(os.path.join(ROOT, "perfbench", "README.md")) as f:
        section = f.read().split("\n## Bounds\n", 1)[1].split("\n## ", 1)[0]
    stated = re.findall(r"^\| `([\w.]+)` \| ([0-9.]+) \|", section, re.M)
    declared = [(m["name"], m["bound"]) for m in spec()["end_to_end"]]
    assert [(name, float(bound)) for name, bound in stated] == declared


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("_build", "_work", "_traces", "__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
