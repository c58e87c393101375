"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The script builds its inputs on first
use (generated tables and DuckDB answers, under ``perfbench/_build``),
pins the engine's environment to a fresh per-run state, runs the
workload in a child process (``engine_run.py``) with one closed-loop
client, removes what the run left in scratch space, and prints one
``name value unit`` line per metric followed, as the last line, by a
JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
CHILD_TIMEOUT_S = 170.0  # a run must end within 180 s of being started
DRIVER_MEM = "2g"  # below host RAM; the engine's default is 16g


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pinned_env(run_dir: str, trace: bool) -> dict[str, str]:
    """The child's environment: inherited, minus every engine knob, plus
    the benchmark's pinned values."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.pop("SPARK_LOCAL_DIRS", None)
    tmp = os.path.join(run_dir, "tmp")
    # A heap fixed at its maximum size: its growth, which GC timing steers,
    # does not move the JVM's resident set from run to run.
    submit = ["--conf", f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM}"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
        ]
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LAYOUT_DIR": os.path.join(run_dir, "layouts"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, Spark's launcher included, keeps its files in the run dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    for sub in ("tmp", "layouts", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    return env


def stop_session(proc: subprocess.Popen, grace_s: float) -> None:
    """Give every process of the child's session (the JVM, and the
    Python worker daemons, which open process groups of their own)
    ``grace_s`` to exit, kill what is left, and wait until all are gone."""
    from perfbench import procstat

    def left() -> list[int]:
        return [
            p.pid for p in procstat.snapshot().values()
            if p.session == proc.pid and p.state != "Z"
        ]

    deadline = time.monotonic() + grace_s
    while left() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.monotonic() + 10.0
    while left() and time.monotonic() < deadline:
        time.sleep(0.1)


def run_child(cfg_path: str, env: dict[str, str]) -> int | None:
    """Run engine_run.py in a session of its own; its exit code, or
    None when it overran the time limit. Nothing of it outlives this."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "engine_run.py"), cfg_path],
        cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        start_new_session=True,
    )
    code = None
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        stop_session(proc, grace_s=5.0 if code == 0 else 0.0)
    return code


def read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through the clean-up in main()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lakehouse_app_spark", "__init__.py")):
        return fail("engine package lakehouse_app_spark/ not found next to perfbench/")
    if not os.path.isfile(os.path.join(ROOT, "tests", "conftest.py")):
        return fail("tests/conftest.py (the oracle comparator) not found")
    sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    from perfbench import build, scratch
    from perfbench.summary import MIN_BEYOND
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; known: {', '.join(WORKLOADS)}")
    spec = load_spec()
    keys = WORKLOADS[args.workload]

    sf_dir = build.ensure_data(args.sf)
    build.ensure_oracles(args.sf, keys)

    run_dir = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pinned_env(run_dir, bool(args.trace))
    trace_dir = os.path.join(HERE, "_traces")
    os.makedirs(trace_dir, exist_ok=True)
    shm_before = scratch.listing(scratch.SHM)
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": args.sf,
        "sf_dir": sf_dir,
        "eventlog_dir": os.path.join(run_dir, "eventlog"),
        "result_path": os.path.join(run_dir, "result.json"),
        "spans_path": os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"),
        "scratch_roots": {scratch.SHM: shm_before, env["SPARK_GRAFT_LAYOUT_DIR"]: []},
        "spawn_wall": time.time(),
        "spawn_mono": time.monotonic(),
    }
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    try:
        code = run_child(cfg_path, env)
        result = read_json(cfg["result_path"]) if code == 0 else None
    finally:
        scratch.remove_run_entries({scratch.SHM: shm_before})
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or result is None:
        return fail(f"engine run failed (exit {code})")

    pinned = {k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_LAYOUT_DIR",
        "SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS", "PYSPARK_SUBMIT_ARGS",
    )}
    pinned.update({
        "cwd": ROOT,
        "spark": importlib.metadata.version("pyspark"),
        "duckdb": importlib.metadata.version("duckdb"),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "keys": len(keys),
        "ops": result["ops"], "passes": result["passes"],
        "p90_samples_beyond": result["p90_samples_beyond"],
        "p90_beyond_shortfall": max(0, MIN_BEYOND - result["p90_samples_beyond"]),
        "host_steal_share": round(result["host_steal_share"], 4),
    })
    print("# state " + json.dumps(pinned))
    for err in result["verify_errors"]:
        print(f"# mismatch {err}")

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = result["per_layer"] if args.trace else result["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = {**result["end_to_end"], **values}
    for name, value in shown.items():
        print(f"{name} {value:.6g} {units[name]}")
    failed = result["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["ops"],
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_sigterm)
    sys.exit(main())
