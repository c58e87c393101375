"""One benchmark run inside a fresh engine process.

``run.py`` starts this module as a child process with a JSON config
and the pinned environment, and reads its JSON result file. The child
is the engine's only client: a closed loop that sends the next
operation when the previous one has finished.

Set-up is ``get_spark``, ``load_tables`` and two warm-up passes. In the
first, every workload key is built, collected with ``toPandas`` and
checked against its DuckDB answer; the second runs each key as a timed
operation does, so the timed window starts past the second call's
compilation and caching. The timed window then runs a fixed number of
passes, each a seeded shuffle of the workload's keys: as many as fill
``seconds`` at the workload's nominal pass time, and at least two.
Every run of a workload at a given ``seconds`` thus times the same
operations, however fast the host is that day.
An operation is one key: *build* ``QUERIES[key](spark, sf_dir)``, then
*execute* ``df.write.format("noop")``, then ``release_caches()``.

With ``trace`` on, the run also sets a job group per phase, registers
a streaming listener, and (through the spark-submit configuration the
parent set) writes Spark's event log, from which it derives the
per-layer counters and the job and micro-batch spans.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # import perfbench as a package, never its modules bare

from perfbench import build, procstat, scratch, sparkstats  # noqa: E402
from perfbench.spans import Recorder, self_times  # noqa: E402
from perfbench.summary import percentile, samples_beyond  # noqa: E402
from perfbench.workloads import PASS_SECONDS, WORKLOADS  # noqa: E402


# A second pass repeats every key, which plan.cache_hit_ratio needs.
MIN_PASSES = 2


def timed_passes(workload: str, seconds: float) -> int:
    return max(MIN_PASSES, math.ceil(seconds / PASS_SECONDS[workload]))


def pass_order(keys: tuple[str, ...], rng: random.Random) -> list[str]:
    order = list(keys)
    rng.shuffle(order)
    return order


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.trace = bool(cfg["trace"])
        self.keys = WORKLOADS[cfg["workload"]]
        self.rng = random.Random(cfg["seed"])
        self.rec = Recorder()
        self.overhead_s = 0.0  # benchmark-only work inside set-up (verification)
        self.mismatches = 0
        self.verify_errors: list[str] = []

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        cfg, rec = self.cfg, self.rec
        self.run_span = rec.add("run", cfg["spawn_wall"], cfg["spawn_wall"])
        self.setup_span = rec.add("setup", cfg["spawn_wall"], cfg["spawn_wall"], self.run_span)

        sid = rec.open("get_spark", self.setup_span)
        import lakehouse_app_spark as eng
        from lakehouse_app_spark.runtime_cache import release_caches
        from lakehouse_app_spark.sources.tables import load_tables

        eng.load_all_queries()
        self.spark = eng.get_spark()
        self.get_spark_s = rec.close(sid)
        self.queries, self.release = eng.QUERIES, release_caches
        self.sc = self.spark.sparkContext

        sid = rec.open("load_tables", self.setup_span)
        load_tables(self.spark, cfg["sf_dir"])
        self.load_tables_s = rec.close(sid)

        if self.trace:
            self.listener = sparkstats.progress_listener()
            self.spark.streams.addListener(self.listener)

        sid = rec.open("warmup", self.setup_span)
        for key in pass_order(self.keys, self.rng):
            self.warm_and_verify(key, sid)
        for key in pass_order(self.keys, self.rng):
            self.warm(key, sid)
        rec.close(sid)
        rec.close(self.setup_span)

    def warm_and_verify(self, key: str, parent: int) -> None:
        """First call of ``key``, collected and compared with its oracle.
        Loading the answer and comparing frames is benchmark work, so it
        is timed and left out of ``setup_s``."""
        sid = self.rec.open(f"warm:{key}", parent)
        checked_at = None
        try:
            got = self.queries[key](self.spark, self.cfg["sf_dir"]).toPandas()
            checked_at = time.perf_counter()
            build.comparator()(got, build.load_oracle(self.cfg["sf"], key), key)
        except AssertionError as exc:
            self.mismatches += 1
            self.verify_errors.append(str(exc).splitlines()[0])
        except Exception as exc:  # a key that raises is a failed check, not a crash
            self.mismatches += 1
            self.verify_errors.append(f"{key}: {type(exc).__name__}: {exc}".splitlines()[0])
            traceback.print_exc()
        finally:
            if checked_at is not None:
                self.overhead_s += time.perf_counter() - checked_at
            self.release()
            self.rec.close(sid)

    def warm(self, key: str, parent: int) -> None:
        """A call of ``key`` as the timed window makes it, untimed. A key
        that raises here is counted by verification or the timed window."""
        sid = self.rec.open(f"warm:{key}", parent)
        try:
            self.queries[key](self.spark, self.cfg["sf_dir"]).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            traceback.print_exc()
        finally:
            self.release()
            self.rec.close(sid)

    # ------------------------------------------------------- timed window
    def timed(self) -> None:
        cfg, rec, sc = self.cfg, self.rec, self.sc
        self.lat: list[float] = []
        self.build_s = self.exec_s = self.release_s = 0.0
        self.released = self.failed = self.hits = self.repeats = 0
        self.exec_counts = dict.fromkeys(("jobs", "stages", "tasks", "failed_tasks"), 0)
        last_df: dict[str, object] = {}
        self.ops = self.passes = 0
        cpu = procstat.MonotoneCpu()
        self.setup_peak_rss_mb = procstat.peak_rss_mb()
        procstat.reset_peak_rss()
        self.cpu0 = cpu.read()
        ticks0 = procstat.host_ticks()
        self.first_op_mono = time.monotonic()
        t0 = time.perf_counter()
        self.window_span = rec.open("timed", self.run_span)
        for _ in range(timed_passes(cfg["workload"], cfg["seconds"])):
            for key in pass_order(self.keys, self.rng):
                op = self.ops
                self.ops += 1
                osp = rec.open(f"op:{key}", self.window_span, op)
                try:
                    if self.trace:
                        sc.setJobGroup(f"op{op}.build", key)
                    sid = rec.open("build", osp, op)
                    df = self.queries[key](self.spark, cfg["sf_dir"])
                    b = rec.close(sid)
                    if self.trace:
                        sc.setJobGroup(f"op{op}.exec", key)
                    sid = rec.open("execute", osp, op)
                    df.write.format("noop").mode("overwrite").save()
                    e = rec.close(sid)
                except Exception:
                    self.failed += 1
                    traceback.print_exc()
                    b = e = None
                sid = rec.open("release", osp, op)
                self.released += self.release()
                self.release_s += rec.close(sid)
                rec.close(osp)
                if b is None:
                    continue
                self.lat.append(b + e)
                self.build_s += b
                self.exec_s += e
                if key in last_df:
                    self.repeats += 1
                    self.hits += last_df[key] is df
                last_df[key] = df
                if self.trace:
                    for k, v in sparkstats.group_counts(sc, f"op{op}.exec").items():
                        self.exec_counts[k] += v
            self.passes += 1
        self.window_s = time.perf_counter() - t0
        rec.close(self.window_span)
        self.cpu1 = cpu.read()
        ticks1 = procstat.host_ticks()
        self.steal_share = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        self.peak_rss_mb = procstat.peak_rss_mb()
        self.leaked_dirs, self.leaked_bytes = scratch.leaks(cfg["scratch_roots"])

    # ------------------------------------------------------------ results
    def end_to_end(self) -> dict[str, float]:
        n = len(self.lat)
        cpu = sum(self.cpu1.values()) - sum(self.cpu0.values())
        setup = self.first_op_mono - self.cfg["spawn_mono"] - self.overhead_s
        return {
            "setup_s": setup,
            "op_p50_s": percentile(self.lat, 0.5),
            "op_p90_s": percentile(self.lat, 0.9),
            "ops_per_s": n / self.window_s,
            "cpu_s_per_op": cpu / n,
            "peak_rss_mb": self.peak_rss_mb,
            "error_rate": (self.failed + self.mismatches) / self.ops,
        }

    def per_layer(self) -> dict[str, float]:
        """Per-layer counters of the timed window, per operation unless
        the name says otherwise. Needs the session stopped (event log)."""
        n = self.ops
        win = self.rec.spans[self.window_span]
        progress = [
            p for p in self.listener.reports()
            if win.start <= sparkstats.batch_interval(p)[0] <= win.end
        ]
        events = sparkstats.read_event_log(self.cfg["eventlog_dir"])
        for p in self.listener.reports():
            start, end = sparkstats.batch_interval(p)
            self.rec.adopt("batch", start, end, within=("build", "execute", "release"))
        for _, start, end in sparkstats.job_intervals(events):
            self.rec.adopt("job", start, end, within=("build", "execute", "release", "batch"))
        build_jobs = sum(
            1 for s in self.rec.spans
            if s.name == "job" and s.parent is not None and self.in_build(s.parent)
            and s.op is not None
        )
        selfs = self_times([s for s in self.rec.spans if s.op is not None])
        tasks = sparkstats.task_totals(events, win.start, win.end)
        stream = sparkstats.aggregate_progress(progress)
        cpu = {k: self.cpu1[k] - self.cpu0[k] for k in self.cpu0}
        e2e = self.end_to_end()
        out = {
            "session.get_spark_s": self.get_spark_s,
            "mem.setup_peak_rss_mb": self.setup_peak_rss_mb,
            "tables.load_s": self.load_tables_s,
            "plan.build_s": self.build_s / n,
            "plan.build_jobs_per_op": build_jobs / n,
            "plan.cache_hit_ratio": self.hits / self.repeats if self.repeats else 0.0,
            "exec.s_per_op": self.exec_s / n,
            "exec.jobs_per_op": self.exec_counts["jobs"] / n,
            "exec.stages_per_op": self.exec_counts["stages"] / n,
            "exec.tasks_per_op": self.exec_counts["tasks"] / n,
            "exec.failed_tasks": self.exec_counts["failed_tasks"],
            "cpu.jvm_s": cpu["jvm"] / n,
            "cpu.pyworker_s": cpu["pyworker"] / n,
            "cpu.driver_s": cpu["driver"] / n,
            "stream.batches_per_op": stream["stream.batches"] / n,
            "stream.input_rows": stream["stream.input_rows"] / n,
            "state.rows_total": stream["state.rows_total"],
            "state.memory_bytes": stream["state.memory_bytes"],
            "state.commit_ms": stream["state.commit_ms"] / n,
            "scratch.leaked_dirs": self.leaked_dirs,
            "scratch.leaked_bytes": self.leaked_bytes,
            "cache.release_s": self.release_s / n,
            "cache.released_per_op": self.released / n,
            "verify.mismatches": self.mismatches,
            "error_rate": e2e["error_rate"],
            "trace.ops_per_s": e2e["ops_per_s"],
            "self.build_s": selfs.get("build", 0.0) / n,
            "self.execute_s": selfs.get("execute", 0.0) / n,
            "self.release_s": selfs.get("release", 0.0) / n,
            "self.batch_s": selfs.get("batch", 0.0) / n,
            "self.job_s": selfs.get("job", 0.0) / n,
        }
        for name in sparkstats.STREAM_PHASES:
            out[name] = stream[name] / n
        for name, total in tasks.items():
            out[name] = total / n
        return out

    def in_build(self, sid: int) -> bool:
        while sid is not None:
            span = self.rec.spans[sid]
            if span.name == "build":
                return True
            sid = span.parent
        return False


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    run = Run(cfg)
    run.setup()
    run.timed()
    result = {
        "ops": run.ops,
        "passes": run.passes,
        "p90_samples_beyond": samples_beyond(len(run.lat), 0.9),
        "host_steal_share": run.steal_share,
        "failed": run.failed + run.mismatches,
        "verify_errors": run.verify_errors,
        "end_to_end": run.end_to_end(),
    }
    if run.trace:
        # let listener callbacks for the last micro-batches arrive
        deadline = time.monotonic() + 5.0
        seen = -1
        while time.monotonic() < deadline and len(run.listener.reports()) != seen:
            seen = len(run.listener.reports())
            time.sleep(0.5)
    run.spark.stop()
    if run.trace:
        run.rec.spans[run.run_span].end = time.time()
        result["per_layer"] = run.per_layer()
        run.rec.write(cfg["spans_path"])
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
