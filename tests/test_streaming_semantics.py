"""Streaming semantics unit tests: watermark late-data drop and
checkpoint recovery, with hand-crafted micro-batches (FIXTURES.md
'Derived fixtures'). Two sequential availableNow runs against one
checkpoint: run 1 advances the watermark, run 2 delivers a too-late
row that must be dropped from the append-mode output."""

import os
import time

import pytest
from pyspark.sql import functions as F


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "event_id long, ts timestamp, v double").coalesce(
        1
    ).write.mode("append").parquet(path)


def _run_windowed(spark, src, ckpt, out_dir):
    """Parquet sink (memory sinks can't recover from checkpoints)."""
    raw = (
        spark.readStream.schema("event_id long, ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def test_watermark_drops_late_rows(spark, tmp_path):
    import datetime as dt

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src, exist_ok=True)
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    # run 1: events at 9:00-9:20 then 11:00 → watermark advances to 10:50;
    # the 9:00-9:30 window (end 9:30 < 10:50) is finalized and emitted.
    _write_batch(
        spark,
        src,
        [
            (1, t0, 1.0),
            (2, t0 + dt.timedelta(minutes=20), 1.0),
            (3, t0 + dt.timedelta(hours=2), 1.0),
        ],
    )
    out1 = _run_windowed(spark, src, ckpt, out)
    emitted1 = {(r["window"]["start"].hour, r["window"]["start"].minute, r["n"])
                for r in out1.collect()}
    assert (9, 0, 2) in emitted1, f"9:00 window should emit with 2 rows: {emitted1}"

    # run 2 (same checkpoint → watermark restored): a late row at 9:05
    # is behind the watermark and must be dropped — the 9:00 window
    # must not re-emit or change count.
    _write_batch(spark, src, [(4, t0 + dt.timedelta(minutes=5), 99.0)])
    out2 = _run_windowed(spark, src, ckpt, out)
    nine_oclock = [
        r for r in out2.collect()
        if r["window"]["start"].hour == 9 and r["window"]["start"].minute == 0
    ]
    assert len(nine_oclock) == 1 and nine_oclock[0]["n"] == 2, (
        f"late row resurrected finalized window: {nine_oclock}"
    )

    # run 3: the KEEP side of the watermark contract (round 8) — a
    # row that is behind max event time but whose window end is still
    # above the watermark must be MERGED, not dropped. Watermark is
    # 10:50 (11:00 − 10 min); a 10:40 row's 10:30-11:00 window ends at
    # 11:00 > 10:50 → open. A fresh 13:00 row then lifts the
    # watermark to 12:50, and the engine's subsequent batch finalizes
    # 10:30-11:00 — it must emit exactly once WITH the late row.
    _write_batch(spark, src, [(5, t0 + dt.timedelta(hours=1, minutes=40), 1.0)])
    _write_batch(spark, src, [(6, t0 + dt.timedelta(hours=4), 1.0)])
    out3 = _run_windowed(spark, src, ckpt, out)
    half_ten = [
        r for r in out3.collect()
        if r["window"]["start"].hour == 10 and r["window"]["start"].minute == 30
    ]
    assert len(half_ten) == 1 and half_ten[0]["n"] == 1, (
        f"late-but-within-watermark row was not merged: {half_ten}"
    )


def test_stream_equals_batch_tumbling(spark, sf_dir, check_parity):
    """Stream/table duality: the streaming tumbling result equals the
    batch groupBy over the same data (driver-style check already does
    DuckDB; this asserts against batch Spark too)."""
    from lakehouse_app_spark import QUERIES
    from lakehouse_app_spark.sources.tables import load_tables

    stream_out = QUERIES["q_stream_tumbling"](spark, sf_dir).toPandas()
    t = load_tables(spark, sf_dir)
    batch = (
        t.events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    a = stream_out.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert a.equals(b[a.columns])


def test_streaming_upsert_into_snapshot_table(spark, tmp_path):
    """Streaming CDC apply: each micro-batch MERGEs per-key running
    totals into a versioned snapshot table via foreachBatch — the
    standard streaming-upsert deployment (Structured Streaming has
    no native MERGE sink; foreachBatch is the documented bridge).
    Two batches through one availableNow run per arrival wave; the
    table ends at the batch-computed truth and each wave is a
    time-travelable committed version."""
    from lakehouse_app_spark.sources.sinks import read_snapshot, write_snapshot

    src = str(tmp_path / "updates_src")
    table = str(tmp_path / "totals_tbl")
    write_snapshot(
        spark.createDataFrame([], "user_id long, total double"), table, "init"
    )

    def apply_batch(batch_df, batch_id):
        delta = batch_df.groupBy("user_id").agg(F.sum("v").alias("d"))
        cur = read_snapshot(spark, table)
        merged = (
            cur.join(delta, "user_id", "full")
            .select(
                "user_id",
                (
                    F.coalesce(F.col("total"), F.lit(0.0))
                    + F.coalesce(F.col("d"), F.lit(0.0))
                ).alias("total"),
            )
        )
        write_snapshot(merged, table, f"batch {batch_id}")

    def run_wave(rows):
        _write_batch(spark, src, rows)
        q = (
            spark.readStream.schema("event_id long, ts timestamp, v double")
            .parquet(src)
            .selectExpr("event_id % 3 AS user_id", "v")
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    run_wave([(i, t0, float(i)) for i in range(6)])        # 0..5
    run_wave([(i, t0, 10.0) for i in range(6, 9)])         # one per key
    final = {
        r["user_id"]: r["total"] for r in read_snapshot(spark, table).collect()
    }
    # key k gets sum(i for i<6 if i%3==k) + 10
    assert final == {0: 3.0 + 10.0, 1: 5.0 + 10.0, 2: 7.0 + 10.0}
    # each wave committed at least one new readable version
    from lakehouse_app_spark.sources.sinks import snapshot_history

    assert len(snapshot_history(table)) >= 3


def test_streaming_query_listener_reports_progress(spark, tmp_path):
    """Observability surface: a StreamingQueryListener receives
    start/progress/termination callbacks with real row counts — how
    a production pipeline exports per-batch lag and throughput
    metrics without touching the query itself."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    events = {"started": 0, "progress_rows": [], "terminated": 0}

    class Probe(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress_rows"].append(e.progress.numInputRows)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    probe = Probe()
    spark.streams.addListener(probe)
    try:
        src = str(tmp_path / "lst_src")
        _write_batch(
            spark,
            src,
            [(i, __import__("datetime").datetime(2024, 1, 1), 1.0) for i in range(7)],
        )
        q = (
            spark.readStream.schema("event_id long, ts timestamp, v double")
            .parquet(src)
            .groupBy()
            .count()
            .writeStream.format("memory")
            .queryName("lst_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "lst_ckpt"))
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async — give the bus a moment
        for _ in range(40):
            if events["terminated"] and events["progress_rows"]:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(probe)
    assert events["started"] >= 1
    assert events["terminated"] >= 1
    assert sum(events["progress_rows"]) == 7, events["progress_rows"]


def test_tumbling_agg_over_rate_source(spark, tmp_path):
    """SCALE.md's 'only the source line changes' claim, demonstrated:
    the SAME tumbling_agg transformation that q_stream_tumbling runs
    over the bounded parquet replay here consumes Spark's built-in
    `rate` source (a live unbounded stream, the stand-in for Kafka —
    the reference's token stream, app/app.py:132-139), mapped to the
    (ts, event_type, value) event schema. One micro-batch is enough
    to prove the plan binds and aggregates."""
    from lakehouse_app_spark.streaming.stream_queries import tumbling_agg

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.concat(F.lit("type_"), (F.col("value") % 3)).alias("event_type"),
            (F.col("value") % 100).cast("double").alias("value"),
        )
    )
    q = (
        tumbling_agg(rate)
        .writeStream.format("memory")
        .queryName("rate_tumbling")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            rows = spark.table("rate_tumbling").collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert rows, "rate-source stream produced no aggregated rows"
    assert {"window", "event_type", "n", "total_value"} <= set(
        rows[0].asDict()
    ), rows[0]


def test_stream_state_v2_gated_or_green(spark, sf_dir):
    """transformWithStateInPandas (arbitrary state v2) is gated on
    the protobuf package this container lacks; with protobuf present
    the query must match its batch duality."""
    import pytest

    from lakehouse_app_spark.streaming.stream_queries import _twsp_available

    if not _twsp_available():
        from lakehouse_app_spark.registry import QUERIES

        assert "q_stream_state_v2" not in QUERIES
        pytest.skip("protobuf absent: transformWithState unavailable here")
    # protobuf present: the gate must have REGISTERED the query so an
    # environment upgrade instantly drives it through the oracle too.
    from lakehouse_app_spark.registry import QUERIES as _Q

    assert "q_stream_state_v2" in _Q
    from lakehouse_app_spark.streaming.stream_queries import q_stream_state_v2

    got = {
        r["user_id"]: (r["n_events"], r["n_types"])
        for r in q_stream_state_v2(spark, sf_dir).collect()
    }
    from lakehouse_app_spark.sources.tables import load_tables
    from pyspark.sql import functions as F

    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in load_tables(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("event_type").alias("t"))
        .collect()
    }
    assert got == want


def test_tws_liststate_accumulates_across_micro_batches(spark, tmp_path):
    """transformWithStateInPandas ListState coverage: with
    maxFilesPerTrigger=1 the two staged files replay as two
    micro-batches, and the per-key list (one appended element per
    batch the key appears in) must survive the batch boundary through
    the RocksDB store — the cross-batch-persistence property
    q_stream_state_v2's single-batch replay cannot witness.

    (Processing-time TIMERS are deliberately not covered: in this
    Spark build a transformWithStateInPandas query with
    timeMode=ProcessingTime and an already-due registered timer never
    terminates under trigger(availableNow) — the micro-batch executor
    keeps scheduling batches even after handleExpiredTimer ran and
    the timer was explicitly deleted; reproduced standalone outside
    pytest. Upstream trigger/timer interaction, not an engine
    property this repo controls.)"""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from lakehouse_app_spark.sources.pb_vendor import (
        inject_worker_pythonpath,
        protobuf_runtime_dir,
    )
    from lakehouse_app_spark.streaming.stream_queries import (
        _twsp_available,
        run_to_memory,
    )

    if not _twsp_available():
        pytest.skip("no protobuf source on this host")
    pb = protobuf_runtime_dir()
    if pb:
        inject_worker_pythonpath(spark, pb)

    src = str(tmp_path / "tws_src")
    seen_files: set = set()
    for batch, rows in enumerate([[(1, 10.0), (2, 20.0)], [(1, 11.0)]]):
        spark.createDataFrame(rows, "k long, v double").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        # FileStreamSource orders by modification time with no stable
        # tie-break; pin strictly increasing mtimes per wave so the
        # two files always replay in write order (review r7)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if p not in seen_files and f.endswith(".parquet"):
                os.utime(p, (1_700_000_000 + batch * 60,) * 2)
                seen_files.add(p)

    class ListAcc(StatefulProcessor):
        def init(self, handle):
            self.seen = handle.getListState("seen", "v double")

        def handleInputRows(self, key, rows, timer_values):
            mx = max(float(p["v"].max()) for p in rows)
            self.seen.appendValue((mx,))
            vals = [t[0] for t in self.seen.get()]
            yield pd.DataFrame(
                {
                    "k": [key[0]],
                    "n_batches": [len(vals)],
                    "last_v": [vals[-1]],
                }
            )

        def close(self):
            pass

    stream = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stream.groupBy("k").transformWithStateInPandas(
        statefulProcessor=ListAcc(),
        outputStructType="k long, n_batches long, last_v double",
        outputMode="Update",
        timeMode="None",
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        res = run_to_memory(out, "tws_list", output_mode="update", partitions=2)
        # update-mode memory sink keeps every emitted row and collect
        # order is not guaranteed — reduce to the final state per key
        # by max batch count
        rows = {}
        for r in res.collect():
            if r["k"] not in rows or r["n_batches"] > rows[r["k"]]["n_batches"]:
                rows[r["k"]] = r
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    # Key 1 appears in both batches (list length 2, last element
    # 11.0); key 2 only in batch 1.
    assert rows[1]["n_batches"] == 2 and rows[1]["last_v"] == 11.0, rows
    assert rows[2]["n_batches"] == 1 and rows[2]["last_v"] == 20.0, rows




def test_tws_event_time_timers_across_micro_batches(spark, tmp_path):
    """session_timeout_transform (q_stream_state_timers' processor)
    driven across TWO micro-batches (maxFilesPerTrigger=1) — the paths
    the bounded single-batch replay can't witness: (a) a session
    straddling the batch boundary is CONTINUED (timer re-registered,
    old one deleted); (b) a >=30-min cross-batch gap closes the
    carried session as 'gap'; (c) an event-time timer fires once the
    watermark passes last+30min, emits 'timer' and CLEARS the state;
    (d) a trailing session whose timer is beyond the final watermark
    is never emitted (state awaits more data); (e) a key whose timer
    fired MID-REPLAY and then returns opens a FRESH session — the
    re-open-after-fire path whose boundary invariance the
    q_stream_state_timers docstring claims (the fired session stays
    closed, nothing merges)."""
    from lakehouse_app_spark.streaming.stream_queries import _twsp_available

    if not _twsp_available():
        pytest.skip("no protobuf source on this host")

    from lakehouse_app_spark.registry import QUERIES
    from lakehouse_app_spark.streaming.stream_queries import (
        run_tws,
        session_timeout_transform,
    )

    assert "q_stream_state_timers" in QUERIES

    src = str(tmp_path / "timer_events")
    waves = [
        # file 1
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
         (2, "2024-01-01 10:00:00"), (3, "2024-01-01 10:00:00"),
         (4, "2024-01-01 10:00:00")],
        # file 2: key1 continues its session across the boundary;
        # key2 returns after a 2h gap (carried session closes 'gap');
        # key3/key4 silent — their timers must fire later
        [(1, "2024-01-01 10:20:00"), (2, "2024-01-01 12:00:00")],
        # file 3: key5 only — batch 3 runs with watermark 12:00, so
        # the 10:30/10:50 timers of keys 1/3/4 fire MID-REPLAY
        # (no key-4 input in this batch: the fire is unambiguous)
        [(5, "2024-01-01 12:05:00")],
        # file 4: key4 RETURNS after its fire — must open a fresh
        # session (nothing to merge; its old state was cleared).
        # Final watermark 12:10: the trailing sessions of keys 2
        # (timer 12:30), 5 (12:35) and 4's new one (12:40) all stay
        # unexpired and unreported
        [(4, "2024-01-01 12:10:00")],
    ]
    seen: set = set()
    for batch, rows_w in enumerate(waves):
        (
            spark.createDataFrame(rows_w, "user_id long, ts_s string")
            .selectExpr(
                "user_id", "CAST(to_timestamp(ts_s) AS TIMESTAMP_NTZ) AS ts"
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        # pin strictly increasing mtimes per wave so FileStreamSource
        # replays the files in write order (review r7)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if p not in seen and f.endswith(".parquet"):
                os.utime(p, (1_700_000_000 + batch * 60,) * 2)
                seen.add(p)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp_ntz")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_tws(
        spark,
        session_timeout_transform(spark, stream),
        "tws_timer_test",
        partitions=2,
    )
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["user_id"], []).append(
            (str(r["session_start"]), str(r["session_end"]), r["n"], r["closed_by"])
        )
    for v in got.values():
        v.sort()

    assert got.get(1) == [
        ("2024-01-01 10:00:00", "2024-01-01 10:50:00", 3, "timer")
    ], got
    assert got.get(2) == [
        ("2024-01-01 10:00:00", "2024-01-01 10:30:00", 1, "gap")
    ], got
    assert got.get(3) == [
        ("2024-01-01 10:00:00", "2024-01-01 10:30:00", 1, "timer")
    ], got
    # (e) mid-replay fire + re-open: exactly the fired session, once,
    # closed by timer; the 12:10 re-open stays an unreported fresh
    # trailing session — no merge, no duplicate
    assert got.get(4) == [
        ("2024-01-01 10:00:00", "2024-01-01 10:30:00", 1, "timer")
    ], got
    assert 5 not in got, got


@pytest.mark.parametrize(
    "ttl_ms,expect_survives",
    [(150, False), (3_600_000, True)],
    ids=["short-ttl-expires", "long-ttl-survives"],
)
def test_tws_value_state_ttl_across_restarts(
    spark, tmp_path, ttl_ms, expect_survives
):
    """State TTL on the TWS API (the remaining state-v2 lifecycle
    feature beside timers): a ValueState declared with ttlDurationMs
    expires by PROCESSING time. Two runs share one checkpoint with a
    wall-clock gap larger than the short TTL between them — the
    second run reads None for the expired state (counter restarts)
    but finds the long-TTL state alive (counter accumulates), so
    RocksDB restart recovery is witnessed too.

    Harness note (upstream, same family as the processing-time-timer
    caveat above): ProcessingTime timeMode keeps scheduling no-data
    micro-batches under trigger(availableNow) — the query never
    terminates (observed 291 committed batches before a forced stop).
    So each run uses a plain processing-time trigger with a
    restartable PARQUET sink (the memory sink refuses checkpoint
    recovery), polls the sink for the expected rows, and stops the
    query explicitly between batches."""
    import time as _time

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from lakehouse_app_spark.sources.pb_vendor import (
        inject_worker_pythonpath,
        protobuf_runtime_dir,
    )
    from lakehouse_app_spark.streaming.stream_queries import _twsp_available

    if not _twsp_available():
        pytest.skip("no protobuf source on this host")
    pb = protobuf_runtime_dir()
    if pb:
        inject_worker_pythonpath(spark, pb)

    src = str(tmp_path / "ttl_src")
    ckpt = str(tmp_path / "ttl_ckpt")  # SHARED across the two runs
    sink = str(tmp_path / "ttl_sink")

    class Counter(StatefulProcessor):
        def init(self, handle):
            self.cnt = handle.getValueState("cnt", "n long", ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            got = self.cnt.get()
            n = (0 if got is None else got[0]) + sum(len(p) for p in rows)
            self.cnt.update((int(n),))
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        def close(self):
            pass

    def run_once(expect_rows):
        stream = spark.readStream.schema("k long").parquet(src)
        out = stream.groupBy("k").transformWithStateInPandas(
            statefulProcessor=Counter(),
            outputStructType="k long, n long",
            outputMode="Update",
            timeMode="ProcessingTime",  # the TTL clock
        )
        prev = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            q = (
                out.writeStream.format("parquet")
                .outputMode("append")
                .option("path", sink)
                .trigger(processingTime="0 seconds")
                .option("checkpointLocation", ckpt)
                .start()
            )
            deadline = _time.time() + 90
            rows = []
            while _time.time() < deadline:
                try:
                    rows = spark.read.parquet(sink).collect()
                except Exception:
                    rows = []
                if len(rows) >= expect_rows:
                    break
                _time.sleep(0.3)
            q.stop()
            q.awaitTermination(60)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            if prev is None:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
        return sorted((r["k"], r["n"]) for r in rows)

    spark.createDataFrame([(1,)], "k long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    assert run_once(1) == [(1, 1)]

    _time.sleep(1.0)  # > short TTL, << long TTL
    spark.createDataFrame([(1,)], "k long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got = run_once(2)
    assert got == ([(1, 1), (1, 2)] if expect_survives else [(1, 1), (1, 1)])


def test_tws_initial_state_warm_start(spark, tmp_path):
    """handleInitialState — the last TWS lifecycle hook beside
    state variables, timers, and TTL: a stored BATCH aggregate warm-
    starts the per-key state (the migration path from a batch table
    to a live stream, q_incremental_agg's delta-apply shape on the
    state API), and the streamed delta accumulates ON TOP of it. The
    assert is the batch duality: warm-start + delta == full
    recompute, including a key with initial state but no stream rows
    (must not emit) and a stream key with no initial state (starts
    from zero)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from lakehouse_app_spark.sources.pb_vendor import (
        inject_worker_pythonpath,
        protobuf_runtime_dir,
    )
    from lakehouse_app_spark.streaming.stream_queries import (
        _twsp_available,
        run_tws,
    )

    if not _twsp_available():
        pytest.skip("no protobuf source on this host")
    pb = protobuf_runtime_dir()
    if pb:
        inject_worker_pythonpath(spark, pb)

    src = str(tmp_path / "warm_src")
    # stream delta: keys 1 (warm) and 3 (cold); key 2 is warm-only
    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (3, 7.0)], "k long, v double"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    # stored batch aggregate: (key, running count, running sum)
    initial = (
        spark.createDataFrame(
            [(1, 4, 100.0), (2, 2, 20.0)], "k long, n long, total double"
        )
        .groupBy("k")
    )

    class WarmAgg(StatefulProcessor):
        def init(self, handle):
            self.s = handle.getValueState("s", "n long, total double")

        def handleInitialState(self, key, initialState, timerValues):
            self.s.update(
                (int(initialState["n"].iloc[0]),
                 float(initialState["total"].iloc[0]))
            )

        def handleInputRows(self, key, rows, timerValues):
            got = self.s.get()
            n, total = (0, 0.0) if got is None else got
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["v"].sum())
            self.s.update((int(n), float(total)))
            yield pd.DataFrame(
                {"k": [key[0]], "n": [n], "total": [total]}
            )

        def close(self):
            pass

    stream = spark.readStream.schema("k long, v double").parquet(src)
    out = stream.groupBy("k").transformWithStateInPandas(
        statefulProcessor=WarmAgg(),
        outputStructType="k long, n long, total double",
        outputMode="Update",
        timeMode="None",
        initialState=initial,
    )
    res = {
        r["k"]: (r["n"], r["total"])
        for r in run_tws(spark, out, "tws_warm", partitions=2).collect()
    }
    # warm-start + delta == full recompute; warm-only keys stay silent
    assert res == {1: (6, 115.0), 3: (1, 7.0)}, res


def test_timer_sessionize_random_matches_reference(spark, tmp_path):
    """Seeded-random property check of q_stream_state_timers' full
    semantics against an independent Python reference: 300 events,
    10 keys, µs-precision timestamps with ADVERSARIAL constructions —
    gaps of exactly 30 minutes (split boundary), trailing sessions
    ending exactly 30 minutes before the max event (ms-truncated
    non-strict fire boundary), ±1 ms perturbations of both, and
    duplicate timestamps. The reference implements the documented
    contract directly (µs gap splits, floor-ms timer vs floor-ms
    watermark); any drift in the vectorized islands code or the
    boundary encoding shows up as a set difference."""
    import random

    from lakehouse_app_spark.streaming.stream_queries import _twsp_available

    if not _twsp_available():
        pytest.skip("no protobuf source on this host")

    from lakehouse_app_spark.registry import QUERIES

    rng = random.Random(20260815)
    GAP_US = 30 * 60 * 1_000_000
    base = 1_700_000_000_000_000  # epoch µs
    events: list[tuple[int, int]] = []
    for key in range(1, 11):
        t = base + rng.randrange(0, 3_600_000_000)
        for _ in range(rng.randrange(1, 40)):
            events.append((key, t))
            step = rng.choice(
                [
                    rng.randrange(1, GAP_US),       # same session
                    GAP_US,                          # exact boundary
                    GAP_US - 1000, GAP_US + 1000,    # ±1 ms around it
                    rng.randrange(GAP_US, 3 * GAP_US),  # new session
                    0,                               # duplicate ts
                ]
            )
            t += step
    # force the trailing-fire boundary: one key's last event exactly
    # 30 min before the global max, one 1 ms later, one 1 ms earlier
    mx = max(t for _, t in events)
    events += [(11, mx - GAP_US), (12, mx - GAP_US + 1000),
               (13, mx - GAP_US - 1000)]

    # stage as a fake corpus dir shaped like the events table
    fake_sf = str(tmp_path / "sf_rand")
    os.makedirs(fake_sf, exist_ok=True)
    ev_stage = str(tmp_path / "ev_stage")
    (
        spark.createDataFrame(events, "user_id long, ts_us long")
        .selectExpr(
            "CAST(monotonically_increasing_id() AS LONG) AS event_id",
            "user_id",
            "CAST('click' AS STRING) AS event_type",
            "CAST(1.0 AS DOUBLE) AS value",
            "CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ) AS ts",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(ev_stage)
    )
    import glob as _glob
    import shutil as _shutil

    part = _glob.glob(os.path.join(ev_stage, "part-*.parquet"))[0]
    _shutil.copyfile(part, os.path.join(fake_sf, "events.parquet"))

    got = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n"], r["closed_by"])
        for r in QUERIES["q_stream_state_timers"](spark, fake_sf).collect()
    }

    # independent reference
    import pandas as pd

    per_key: dict = {}
    for k, t in events:
        per_key.setdefault(k, []).append(t)
    wm_ms = mx // 1000
    want = set()
    for k, ts_list in per_key.items():
        ts_list.sort()
        sessions, cur = [], [ts_list[0]]
        for t in ts_list[1:]:
            if t - cur[-1] >= GAP_US:
                sessions.append(cur)
                cur = [t]
            else:
                cur.append(t)
        sessions.append(cur)
        for i, s in enumerate(sessions):
            final = i == len(sessions) - 1
            if final and s[-1] // 1000 + 30 * 60 * 1000 > wm_ms:
                continue  # unexpired trailing session: unreported
            want.add((
                k,
                str(pd.Timestamp(s[0], unit="us")),
                str(pd.Timestamp(s[-1] + GAP_US, unit="us")),
                len(s),
                "timer" if final else "gap",
            ))
    assert got == want, (got - want, want - got)


def test_ivf_segment_append_batching_invariant(spark, tmp_path):
    """Streaming index ingest is stateless per batch, so the written
    segment must be IDENTICAL however the arriving files are split
    into micro-batches — and must equal the static (batch-mode)
    assignment of the same vectors to the same codebook."""
    from lakehouse_app_spark.operators.ann import _APPEND_ID_OFFSET
    from lakehouse_app_spark.operators.ann_index import with_cid
    from lakehouse_app_spark.operators.vectors import as_double_array
    from lakehouse_app_spark.streaming.stream_queries import (
        run_ivf_segment_append,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid int, cvec array<double>",
    )
    vecs = spark.createDataFrame(
        [
            (i, [float(i % 3), float((i + 1) % 2), 0.25 * i, 1.0])
            for i in range(12)
        ],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path / "arriving")
    vecs.repartition(3).write.parquet(src)

    def rows(df):
        return sorted(
            (r["vec_id"], r["cid"], tuple(r["emb"])) for r in df.collect()
        )

    multi = rows(
        run_ivf_segment_append(spark, cents, src, max_files_per_trigger=1)
    )
    single = rows(run_ivf_segment_append(spark, cents, src))
    static = rows(
        with_cid(
            spark.read.parquet(src).select(
                (F.col("vec_id") + _APPEND_ID_OFFSET).alias("vec_id"),
                as_double_array("embedding").alias("emb"),
            ),
            F.col("emb"),
            cents,
        ).select("vec_id", "emb", "cid")
    )
    assert multi == single == static
    assert len(multi) == 12


def test_late_data_key_drops_and_merges(spark, sf_dir, check_parity):
    """q_stream_late_data's staged replay must witness BOTH sides of
    the watermark contract on the real corpus: some late rows are
    dropped (n_dropped > 0 somewhere), some late rows are merged
    (total kept exceeds the on-time row count), and no window ever
    keeps more than arrived. Value parity against DuckDB runs via
    check_parity."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark import QUERIES
    from lakehouse_app_spark.sources.tables import load_tables
    from lakehouse_app_spark.streaming.stream_queries import (
        LATE_MOD,
        LATE_REM,
    )

    out = QUERIES["q_stream_late_data"](spark, sf_dir)
    agg = out.agg(
        F.sum("n_dropped").alias("dropped"),
        F.sum("n_kept").alias("kept"),
        F.sum("n_arrived").alias("arrived"),
        F.max(F.col("n_kept") > F.col("n_arrived")).alias("overcount"),
    ).collect()[0]
    t = load_tables(spark, sf_dir)
    n_all = t.events.count()
    max_ts = t.events.agg(F.max("ts")).collect()[0][0]
    n_ontime = t.events.where(
        (F.col("event_id") % LATE_MOD != LATE_REM)
        & (F.col("ts") != F.lit(max_ts))
    ).count()
    assert agg["arrived"] == n_all
    assert agg["dropped"] > 0, "no late row was dropped"
    assert agg["kept"] > n_ontime, "no late row was merged"
    assert agg["kept"] + agg["dropped"] == n_all
    assert not agg["overcount"]
    check_parity("q_stream_late_data")


@pytest.mark.parametrize(
    "key,prefix",
    [
        ("q_stream_foreach_sink", "foreach_sink_"),
        ("q_stream_pruned_join", "pruned_join_"),
    ],
)
def test_sink_output_dirs_reaped_at_release(spark, sf_dir, key, prefix):
    """The foreachBatch sinks write under scratch_commit_dir: after two
    calls and release_caches() only the newest output dir remains — the
    one the last call's lazy read-back may still read."""
    from lakehouse_app_spark import QUERIES, release_caches
    from lakehouse_app_spark import runtime_cache as rc

    dirs = []
    for _ in range(2):
        assert QUERIES[key](spark, sf_dir).count() > 0
        dirs.append(rc._SCRATCH_DIRS[prefix])
    release_caches()
    assert not os.path.exists(dirs[0])
    assert os.path.isdir(dirs[1])


def test_replay_restores_confs_when_checkpoint_dir_fails(
    spark, sf_dir, monkeypatch
):
    """A checkpoint dir that cannot be created (ENOSPC on /dev/shm)
    must not leak the replay's scoped confs into the session: a leaked
    noDataMicroBatches=false would silently drop later replays'
    trailing-batch emissions."""
    import errno
    import tempfile

    from lakehouse_app_spark import QUERIES
    from lakehouse_app_spark.streaming import stream_queries as sq

    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(suffix=None, prefix=None, dir=None):
        if prefix and prefix.startswith("ckpt_"):
            raise OSError(errno.ENOSPC, "No space left on device")
        return real_mkdtemp(suffix, prefix, dir)

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    replays = [
        lambda: sq.run_to_memory(
            sq.events_stream(spark, sf_dir).groupBy("event_type").count(),
            "ckpt_fail", final_no_data_batch=False,
        ),
        lambda: QUERIES["q_stream_foreach_sink"](spark, sf_dir),
    ]
    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    for replay in replays:
        with pytest.raises(OSError):
            replay()
        assert {k: spark.conf.get(k, None) for k in keys} == before


def test_stream_stagings_live_in_layout_catalog(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every stream source is staged as a build-once corpus_dir in the
    layout catalog: (a) a corpus whose events.parquet is replaced
    re-stages, so the replay reads the NEW rows, never a stale copy;
    (b) a fresh process (cleared memo) reuses the published staging
    without rebuilding it; (c) no staging lands in the temp dir."""
    import fnmatch
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from lakehouse_app_spark.sources import layout
    from lakehouse_app_spark.sources.tables import load_tables
    from lakehouse_app_spark.streaming import stream_queries as sq

    tmp_before = set(os.listdir(tempfile.gettempdir()))
    corpus = str(tmp_path / "corpus")
    shutil.copytree(sf_dir, corpus)
    catalog = str(tmp_path / "catalog")
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", catalog)

    def replayed_rows() -> int:
        out = sq.run_to_memory(
            sq.events_stream(spark, corpus).select("event_id"),
            "staging_probe", output_mode="append", final_no_data_batch=False,
        )
        return out.count()

    def stage_all() -> list[str]:
        return [
            sq._staged_events_dir(corpus),
            sq._staged_events_with_sentinel(corpus),
            sq._staged_query_vectors(spark, corpus),
            sq._staged_new_vectors_dir(spark, corpus),
            sq._staged_new_docs_dir(spark, corpus),
            sq._staged_new_lineitem_dir(spark, corpus),
            sq._staged_late_events(corpus),
        ]

    events = os.path.join(corpus, "events.parquet")
    n_all = pq.read_metadata(events).num_rows
    try:
        assert replayed_rows() == n_all
        # (a) replace the source table with different rows
        half = os.path.join(corpus, "half.tmp")
        pq.write_table(pq.read_table(events).slice(0, n_all // 2), half)
        os.replace(half, events)
        assert replayed_rows() == n_all // 2

        stagings = stage_all()
        fp_dir = os.path.join(catalog, layout.corpus_fingerprint(corpus))
        assert len(set(stagings)) == len(stagings)
        assert all(os.path.dirname(d) == fp_dir for d in stagings)
        assert all(os.listdir(d) for d in stagings)
        assert not [d for d in os.listdir(fp_dir) if "-staging-" in d]

        # (b) a fresh process reuses every staging: no build runs
        layout._PUBLISHED.clear()
        built = []
        real_rename = os.rename
        monkeypatch.setattr(
            os, "rename", lambda a, b: (built.append(b), real_rename(a, b))
        )
        again = stage_all()
        monkeypatch.setattr(os, "rename", real_rename)
        assert again == stagings and built == []
        assert replayed_rows() == n_all // 2
    finally:
        load_tables(spark, sf_dir)  # point the session views back

    # (c) nothing was staged under the temp dir
    new = set(os.listdir(tempfile.gettempdir())) - tmp_before
    leaked = [
        d for d in new
        if fnmatch.fnmatch(d, "*_stream_*") or fnmatch.fnmatch(d, "events_*")
    ]
    assert leaked == []
