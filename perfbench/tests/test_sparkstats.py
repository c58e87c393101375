from perfbench.sparkstats import aggregate_progress, batch_interval, job_intervals, task_totals


def _progress(ts, rows, trigger, state=()):
    return {
        "timestamp": ts,
        "numInputRows": rows,
        "durationMs": {
            "triggerExecution": trigger, "addBatch": trigger - 10, "queryPlanning": 4,
            "walCommit": 2, "commitOffsets": 3, "latestOffset": 1, "getBatch": 0,
        },
        "stateOperators": [
            {"numRowsTotal": r, "memoryUsedBytes": m, "commitTimeMs": c} for r, m, c in state
        ],
    }


def test_progress_phases_sum_and_state_gauges_average():
    got = aggregate_progress([
        _progress("2026-01-01T00:00:00.000Z", 100, 50, [(10, 1000, 7), (5, 500, 3)]),
        _progress("2026-01-01T00:00:01.000Z", 40, 30, [(20, 3000, 5)]),
        _progress("2026-01-01T00:00:02.000Z", 0, 20),  # stateless batch
    ])
    assert got["stream.batches"] == 3
    assert got["stream.input_rows"] == 140
    assert got["stream.trigger_ms"] == 100
    assert got["stream.add_batch_ms"] == 70
    assert got["stream.query_planning_ms"] == 12
    assert got["stream.wal_commit_ms"] == 6
    assert got["stream.commit_offsets_ms"] == 9
    assert got["stream.latest_offset_ms"] == 3
    assert got["state.commit_ms"] == 15
    assert got["state.rows_total"] == (15 + 20) / 2
    assert got["state.memory_bytes"] == (1500 + 3000) / 2


def test_no_batches_reads_zero():
    got = aggregate_progress([])
    assert all(v == 0 for v in got.values())


def test_batch_interval_from_timestamp_and_trigger():
    start, end = batch_interval(_progress("1970-01-01T00:00:10.250Z", 1, 500))
    assert (start, end) == (10.25, 10.75)


def _task(stage, launch_ms, cpu_ns, run_ms, gc_ms, sw, lr, rr, spill, inp, out_b, out_r):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch_ms},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": lr, "Remote Bytes Read": rr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": out_b, "Records Written": out_r},
        },
    }


def test_task_totals_window_and_scheduler_delay():
    events = [
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 10_000}},
        _task(1, 10_050, 2_000_000_000, 300, 20, 64, 10, 6, 8, 1000, 5, 1),
        _task(1, 10_100, 1_000_000_000, 200, 0, 0, 0, 0, 0, 0, 0, 0),
        _task(1, 99_000, 9, 9, 9, 9, 9, 9, 9, 9, 9, 9),  # launched outside the window
    ]
    got = task_totals(events, 10.0, 11.0)
    assert got["executor.cpu_s"] == 3.0
    assert got["executor.run_s"] == 0.5
    assert got["executor.gc_s"] == 0.02
    assert abs(got["executor.sched_delay_s"] - 0.15) < 1e-12
    assert got["shuffle.write_bytes"] == 64
    assert got["shuffle.read_bytes"] == 16
    assert got["spill.bytes"] == 8
    assert got["io.input_bytes"] == 1000
    assert (got["io.output_bytes"], got["io.output_records"]) == (5, 1)


def test_job_intervals_pair_start_and_end():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 2_000},
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Submission Time": 2_500},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 3_000},
    ]
    assert job_intervals(events) == [(3, 2.0, 3.0)]
