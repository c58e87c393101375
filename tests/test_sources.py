"""Source/sink tests: REST-JSON ingestion shapes (ref R18/R19/R27)
and parquet sink round-trips (partitioned + bucketed writers)."""

from pyspark.sql import functions as F

from lakehouse_app_spark.sources.json_source import (
    dict_to_kv_df,
    extract_status_fields,
    records_to_df,
)
from lakehouse_app_spark.sources.sinks import read_table, write_table
from lakehouse_app_spark.sources.tables import load_tables

APPS_PAYLOAD = [
    {
        "name": "rag-app",
        "status": {"state": "RUNNING", "message": "ok"},
        "create_time": "2024-06-01T10:00:00Z",
        "url": "https://host/apps/rag-app",
    },
    {
        "name": "etl-app",
        "status": {"state": "ERROR", "message": "boom"},
        "create_time": "2024-06-02T10:00:00Z",
        "url": "",
    },
]


def test_records_to_df_nested_struct(spark):
    """`json["apps"]` → table with queryable nested status struct
    (ref `lakehouse_app_helpers.py:28-33`)."""
    df = records_to_df(spark, APPS_PAYLOAD)
    assert df.count() == 2
    states = {r["state"] for r in df.select(F.col("status.state").alias("state")).collect()}
    assert states == {"RUNNING", "ERROR"}


def test_extract_status_fields_drops_and_flattens(spark):
    df = extract_status_fields(records_to_df(spark, APPS_PAYLOAD))
    assert "status" not in df.columns
    assert {"state", "status_message"} <= set(df.columns)
    row = df.where(F.col("name") == "etl-app").first()
    assert row["state"] == "ERROR" and row["status_message"] == "boom"


def test_derived_logz_column_matches_reference_semantics(spark):
    """R22: logz = '' if url == '' else url + '/logz'."""
    df = extract_status_fields(records_to_df(spark, APPS_PAYLOAD)).withColumn(
        "logz",
        F.when(F.col("url") == "", "").otherwise(
            F.concat(F.col("url"), F.lit("/logz"))
        ),
    )
    got = {r["name"]: r["logz"] for r in df.collect()}
    assert got == {"rag-app": "https://host/apps/rag-app/logz", "etl-app": ""}


def test_dict_to_kv_transpose(spark):
    """R27: orient='index' transpose → one row per key."""
    df = dict_to_kv_df(spark, {"name": "rag-app", "status": {"state": "OK"}})
    rows = {r["key"]: r["value"] for r in df.collect()}
    assert rows["name"] == "rag-app"
    assert '"state"' in rows["status"]


def test_parquet_sink_roundtrip_partitioned(spark, sf_dir, tmp_path):
    t = load_tables(spark, sf_dir)
    out = str(tmp_path / "orders_by_status")
    write_table(t.orders, out, partition_by=["o_orderstatus"])
    back = read_table(spark, out)
    assert back.count() == t.orders.count()
    # partition pruning: scanning one partition reads one directory
    one = back.where(F.col("o_orderstatus") == "F")
    plan = one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan


def test_bucketed_write_enables_shuffle_free_join(spark, sf_dir, tmp_path):
    """Bucketed tables on the join key: the co-located join plan has
    no Exchange on the bucketed side (the 100 TB lineitem⋈orders
    strategy, SURVEY.md §7.6)."""
    from lakehouse_app_spark.sources.sinks import write_bucketed_table

    t = load_tables(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed_table(t.orders, "b_orders", "o_orderkey", n_buckets=8)
    write_bucketed_table(
        t.lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        n_buckets=8,
    )
    joined = spark.table("b_lineitem").join(spark.table("b_orders"), "o_orderkey")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """North-star data-lake maintenance: many small files → few
    range-sorted files, same data, disjoint min/max on the sort col."""
    import os

    from lakehouse_app_spark.sources.sinks import compact_table

    t = load_tables(spark, sf_dir)
    frag = str(tmp_path / "fragmented")
    t.orders.repartition(64).write.parquet(frag)
    n_small = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_small >= 32

    compacted_dir = str(tmp_path / "compacted")
    back = compact_table(spark, frag, compacted_dir, target_files=4,
                         sort_col="o_orderkey")
    n_big = len([f for f in os.listdir(compacted_dir) if f.endswith(".parquet")])
    assert n_big <= 4
    assert back.count() == t.orders.count()

    # range layout: per-file key ranges must be disjoint (file-skipping)
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(os.listdir(compacted_dir)):
        if f.endswith(".parquet"):
            md = pq.read_metadata(os.path.join(compacted_dir, f))
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            i = cols["o_orderkey"]
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                mins.append(st.min); maxs.append(st.max)
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {ranges}"


def test_schema_evolution_merge(spark, tmp_path):
    """Data-lake schema evolution: batches with differing columns read
    back as one unified schema (mergeSchema)."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[2] == 9.5 and rows[1] is None


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_dir, tmp_path):
    """overwrite_partitions replaces the partitions in the incoming
    frame and leaves every sibling partition byte-identical."""
    from lakehouse_app_spark.sources.sinks import overwrite_partitions

    t = load_tables(spark, sf_dir)
    out = str(tmp_path / "orders_by_priority")
    write_table(t.orders, out, partition_by=["o_orderpriority"])
    before = (
        read_table(spark, out)
        .groupBy("o_orderpriority")
        .count()
        .toPandas()
        .set_index("o_orderpriority")["count"]
        .to_dict()
    )
    # reload ONE priority with a halved subset
    one = t.orders.where(F.col("o_orderpriority") == "1-URGENT").where(
        F.col("o_orderkey") % 2 == 0
    )
    n_one = one.count()
    overwrite_partitions(one, out, partition_by=["o_orderpriority"])
    after = (
        read_table(spark, out)
        .groupBy("o_orderpriority")
        .count()
        .toPandas()
        .set_index("o_orderpriority")["count"]
        .to_dict()
    )
    assert after["1-URGENT"] == n_one != before["1-URGENT"]
    for k, v in before.items():
        if k != "1-URGENT":
            assert after[k] == v  # untouched partitions intact


def test_zorder_layout_prunes_secondary_dimension(spark, sf_dir):
    """The property that justifies z-order: after range-splitting the
    sorted table into file-sized chunks, a partkey-only sort leaves
    every chunk spanning the FULL suppkey domain (a suppkey predicate
    prunes nothing), while the Morton layout bounds the suppkey range
    of most chunks too — both dimensions become prunable from file
    min/max stats."""
    from lakehouse_app_spark.sources.sinks import zorder_key

    t = load_tables(spark, sf_dir)
    li = t.lineitem.select("l_partkey", "l_suppkey")

    def avg_suppkey_extent(sorted_df):
        chunked = sorted_df.withColumn(
            "chunk", F.floor(F.monotonically_increasing_id() / 50)
        )
        return (
            chunked.groupBy("chunk")
            .agg((F.max("l_suppkey") - F.min("l_suppkey")).alias("ds"))
            .agg(F.avg("ds"))
            .collect()[0][0]
        )

    z_ds = avg_suppkey_extent(
        li.orderBy(zorder_key("l_partkey", "l_suppkey")).coalesce(1)
    )
    lin_ds = avg_suppkey_extent(li.orderBy("l_partkey").coalesce(1))
    assert z_ds < lin_ds * 0.8


def test_csv_and_json_sink_roundtrip(spark, sf_dir, tmp_path):
    """Format completeness: the same writer/reader pair round-trips
    CSV (with header + schema re-infer) and JSON Lines, preserving
    row counts and key columns — the interchange formats a lakehouse
    must speak alongside parquet."""
    t = load_tables(spark, sf_dir)
    src = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")

    csv_path = str(tmp_path / "orders_csv")
    src.write.option("header", True).csv(csv_path)
    csv_back = spark.read.option("header", True).option("inferSchema", True).csv(
        csv_path
    )
    assert csv_back.count() == src.count()
    assert set(csv_back.columns) == set(src.columns)

    json_path = str(tmp_path / "orders_json")
    src.write.json(json_path)
    json_back = spark.read.json(json_path)
    assert json_back.count() == src.count()
    assert (
        json_back.agg(F.sum("o_orderkey")).collect()[0][0]
        == src.agg(F.sum("o_orderkey")).collect()[0][0]
    )


def test_rest_json_custom_datasource_roundtrip(spark, tmp_path):
    """Spark 4 Python DataSource connector: REST payload directory →
    DataFrame (one partition per file, envelope unwrap, nested
    flatten) and DataFrame → JSONL writer. Generalizes the
    reference's requests.get().json()["apps"] → pandas path
    (lakehouse_app_helpers.py:28-35) into a pluggable source."""
    from lakehouse_app_spark.sources.rest_json_source import (
        register_rest_json_source,
    )
    import json as _json

    src_dir = tmp_path / "payloads"
    src_dir.mkdir()
    for i, states in enumerate([("RUNNING", "ok"), ("ERROR", "boom")]):
        payload = {
            "apps": [
                {
                    "name": f"app-{i}-{j}",
                    "status": {"state": st, "message": msg},
                    "url": f"https://x/{i}/{j}",
                }
                for j, (st, msg) in enumerate([states])
            ]
        }
        (src_dir / f"snap{i}.json").write_text(_json.dumps(payload))

    register_rest_json_source(spark)
    df = (
        spark.read.format("rest_json")
        .option("envelope", "apps")
        .option("path", str(src_dir))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one task per payload file
    rows = {r["name"]: r for r in df.collect()}
    assert set(df.columns) == {"name", "status_state", "status_message", "url"}
    assert rows["app-0-0"]["status_state"] == "RUNNING"
    assert rows["app-1-0"]["status_message"] == "boom"

    out_dir = tmp_path / "out_jsonl"
    df.write.format("rest_json").option("path", str(out_dir)).mode(
        "append"
    ).save()
    back = spark.read.json(str(out_dir))
    assert back.count() == 2
    assert set(back.columns) == set(df.columns)


def test_snapshot_time_travel(spark, sf_dir, tmp_path):
    """Versioned snapshot writes + time-travel reads with a
    manifest-last commit protocol: old versions stay readable after
    new commits, latest wins by default, and a data directory
    without a manifest (simulated crashed writer) is invisible."""
    from lakehouse_app_spark.sources.sinks import (
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "orders_tbl")
    v0 = write_snapshot(t.orders.where(F.col("o_orderkey") <= 100), path, "seed")
    v1 = write_snapshot(t.orders, path, "full load")
    assert (v0, v1) == (0, 1)

    full = t.orders.count()
    assert read_snapshot(spark, path).count() == full          # latest
    assert read_snapshot(spark, path, 0).count() < full        # time travel
    assert [h["version"] for h in snapshot_history(path)] == [0, 1]

    # crashed writer: data dir exists, manifest never written
    t.orders.limit(5).write.parquet(str(tmp_path / "orders_tbl" / "v=2"))
    assert read_snapshot(spark, path).count() == full          # still v1
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, 2)


def test_snapshot_format_switch_parity(spark, sf_dir, tmp_path):
    """The versioned layer's ``fmt`` switch is a real seam (the slot
    where Delta/Iceberg plug in at deployment): the SAME table
    committed under parquet and under ORC — even mixed within one
    history — time-travels to identical results, because each
    manifest records its version's format and the reader honors it."""
    from lakehouse_app_spark.sources.sinks import (
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    t = load_tables(spark, sf_dir)
    src = t.nation.select("n_nationkey", "n_name", "n_regionkey")
    path = str(tmp_path / "nation_mixed_fmt")
    v_parquet = write_snapshot(src, path, "parquet commit", fmt="parquet")
    v_orc = write_snapshot(src, path, "orc commit", fmt="orc")

    a = sorted(map(tuple, read_snapshot(spark, path, v_parquet).collect()))
    b = sorted(map(tuple, read_snapshot(spark, path, v_orc).collect()))
    assert a == b and len(a) == src.count()
    got_schema = read_snapshot(spark, path, v_orc).schema
    assert got_schema == read_snapshot(spark, path, v_parquet).schema
    assert [h["format"] for h in snapshot_history(path)] == ["parquet", "orc"]


def test_read_handle_memo_bounded_and_invalidated(spark, sf_dir, tmp_path):
    """The read_snapshot relation memo (r14 optimization) must stay
    BOUNDED under scratch-clone churn (advice r15: every q_vacuum-
    style mkdtemp clone inserts a fresh key) and must MISS when a
    lineage is wiped and re-committed at the same path (the manifest
    stat token), instead of serving a stale file listing."""
    import shutil

    from lakehouse_app_spark.sources import sinks
    from lakehouse_app_spark.sources.sinks import read_snapshot, write_snapshot

    t = load_tables(spark, sf_dir)
    small = t.nation.select("n_nationkey", "n_name").limit(5)

    # -- invalidation: recreate a lineage at the SAME path
    path = str(tmp_path / "recreated_tbl")
    write_snapshot(small, path, "first life")
    assert read_snapshot(spark, path).count() == 5
    shutil.rmtree(path)
    write_snapshot(small.limit(3), path, "second life")
    assert read_snapshot(spark, path).count() == 3  # not the stale 5

    # -- bound: many distinct scratch paths never grow the memo past cap
    for i in range(sinks._READ_HANDLES_MAX + 20):
        p = str(tmp_path / f"churn_{i}")
        write_snapshot(small.limit(1), p, "churn")
        read_snapshot(spark, p)
    assert len(sinks._READ_HANDLES) <= sinks._READ_HANDLES_MAX


def test_copy_on_write_delete_update_and_dq_gate(spark, sf_dir, tmp_path):
    """DELETE/UPDATE as copy-on-write snapshot commits (old versions
    remain for time travel) and the write-time DQ gate aborting a bad
    commit without touching the table."""
    from lakehouse_app_spark.sources.sinks import (
        delete_where,
        read_snapshot,
        update_where,
        write_snapshot,
        write_snapshot_checked,
    )
    import pytest as _pytest

    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "cust_tbl")
    write_snapshot(t.customer, path, "seed")
    n0 = t.customer.count()

    v1 = delete_where(spark, path, F.col("c_custkey") % 10 == 0)
    assert read_snapshot(spark, path, v1).count() < n0
    assert read_snapshot(spark, path, 0).count() == n0  # undo via travel

    v2 = update_where(
        spark, path, F.col("c_custkey") == 1, {"c_name": F.lit("REDACTED")}
    )
    got = read_snapshot(spark, path, v2).where(F.col("c_custkey") == 1)
    assert [r["c_name"] for r in got.collect()] == ["REDACTED"]

    with _pytest.raises(ValueError, match="neg_key"):
        write_snapshot_checked(
            t.customer.withColumn("c_custkey", -F.col("c_custkey")),
            path,
            {"neg_key": F.col("c_custkey") > 0},
        )
    # aborted commit left no new version
    assert read_snapshot(spark, path).count() == read_snapshot(spark, path, v2).count()


def test_observed_write_collects_metrics_in_one_pass(spark, sf_dir, tmp_path):
    """observe()-based DQ metrics ride along with the write — the
    values must equal a separate aggregate pass, with no second scan
    issued by the metrics themselves."""
    from lakehouse_app_spark.operators.quality import observed_write

    t = load_tables(spark, sf_dir)
    src = t.orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    got = observed_write(
        src,
        str(tmp_path / "obs_out"),
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_price": F.count_if(F.col("o_totalprice").isNull()),
            "n_open": F.count_if(F.col("o_orderstatus") == "O"),
            "max_price": F.max("o_totalprice"),
        },
    )
    truth = src.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("o_totalprice").isNull()).alias("n_null_price"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.max("o_totalprice").alias("max_price"),
    ).collect()[0]
    assert got["n_rows"] == truth["n_rows"]
    assert got["n_null_price"] == truth["n_null_price"]
    assert got["n_open"] == truth["n_open"]
    assert got["max_price"] == truth["max_price"]
    assert spark.read.parquet(str(tmp_path / "obs_out")).count() == got["n_rows"]


def test_incremental_rollup_maintenance(spark, sf_dir, tmp_path):
    """Materialized-view refresh pattern: the daily rollup lives as a
    day-partitioned table; when one day's events arrive late, only
    that day's partition is recomputed and dynamically overwritten —
    untouched partitions keep their files, and the refreshed table
    equals a full recompute."""
    t = load_tables(spark, sf_dir)
    daily = t.events.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    path = str(tmp_path / "rollup")
    some_day = daily.orderBy("day").limit(1).collect()[0]["day"]
    # seed: full rollup EXCEPT one day understated (simulates late data)
    seeded = daily.withColumn(
        "n", F.when(F.col("day") == some_day, F.col("n") - 5).otherwise(F.col("n"))
    )
    seeded.write.partitionBy("day").mode("overwrite").parquet(path)

    # refresh ONLY the affected day via dynamic partition overwrite
    fix = daily.where(F.col("day") == some_day)
    (
        fix.write.partitionBy("day")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    refreshed = spark.read.parquet(path).select("day", "n")
    assert refreshed.count() == daily.count()
    assert refreshed.subtract(daily).count() == 0
    assert daily.subtract(refreshed).count() == 0


def test_orc_sink_roundtrip(spark, sf_dir, tmp_path):
    """ORC completes the format matrix (parquet/csv/json/orc): write
    the part table to ORC, read it back byte-identically, and check
    ORC predicate pushdown survives (the reader reports pushed
    filters in the plan)."""
    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "part_orc")
    t.part.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == t.part.count()
    assert back.subtract(t.part).count() == 0
    assert t.part.subtract(back).count() == 0
    plan = back.where(F.col("p_size") > 25)._jdf.queryExecution().executedPlan().toString()
    assert "p_size" in plan


def test_rest_json_streaming_source_incremental(spark, tmp_path):
    """The rest_json connector's streaming side: an availableNow run
    consumes all payload files; after a new snapshot file arrives, a
    checkpoint-resumed run appends ONLY the new file's records
    (exactly-once, offset-tracked) — the reference's polled REST
    snapshots as an incremental Structured Streaming source."""
    import json as _json

    from lakehouse_app_spark.sources.rest_json_source import (
        register_rest_json_source,
    )

    register_rest_json_source(spark)
    src = tmp_path / "payloads"
    src.mkdir()
    for i in range(2):
        (src / f"2024-01-0{i+1}.json").write_text(
            _json.dumps(
                {"apps": [{"name": f"app{i}", "status": {"state": "RUNNING"}}]}
            )
        )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.format("rest_json")
            .option("envelope", "apps")
            .option("columns", "name,status_state")
            .load(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .start()
        )
        q.awaitTermination()
        return sorted(
            r["name"] for r in spark.read.parquet(out).collect()
        )

    assert run_once() == ["app0", "app1"]
    (src / "2024-01-03.json").write_text(
        _json.dumps({"apps": [{"name": "app2", "status": {"state": "PENDING"}}]})
    )
    # resumed run appends ONLY app2 — no reprocessing of consumed files
    assert run_once() == ["app0", "app1", "app2"]


def test_expire_snapshots_retention(spark, sf_dir, tmp_path):
    """VACUUM-in-miniature: after expiring to keep_last=2, old
    versions are unreadable AND their files are gone, the survivors
    read exactly as before. Orphaned uncommitted data dirs are swept
    only once older than the grace window — a young manifest-less dir
    may be an in-flight concurrent commit (data lands before the
    manifest), so the default sweep must leave it alone."""
    import os

    import pytest as _pytest

    from lakehouse_app_spark.sources.sinks import (
        expire_snapshots,
        read_snapshot,
        write_snapshot,
    )

    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "tbl")
    for n in (3, 5, 7, 9):
        write_snapshot(t.orders.limit(n), path, note=f"n={n}")
    # orphan: data dir without manifest (crashed writer)
    t.orders.limit(1).write.parquet(os.path.join(path, "v=99"))

    expired = expire_snapshots(path, keep_last=2)
    assert expired == [0, 1]
    assert not os.path.exists(os.path.join(path, "v=0"))
    # the orphan is YOUNGER than the default grace window: it must
    # survive (could be a concurrent writer whose manifest hasn't
    # landed yet)...
    assert os.path.exists(os.path.join(path, "v=99"))
    # ...and is swept once the grace window has elapsed (grace=0)
    expire_snapshots(path, keep_last=2, orphan_grace_sec=0.0)
    assert not os.path.exists(os.path.join(path, "v=99"))
    assert read_snapshot(spark, path, 2).count() == 7
    assert read_snapshot(spark, path).count() == 9
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, 1)


def test_layout_catalog_survives_process_restart(spark, sf_dir, tmp_path, monkeypatch):
    """Round-6 catalog seam (verdict item 6): derived_table commits
    under the warehouse layout catalog with a manifest-last protocol,
    so a fresh process — not just a fresh SparkSession — reuses the
    ingest artifact instead of rebuilding. Probed three ways: memo
    cleared in-process, builder booby-trapped, and a REAL second
    python process reading through the same API."""
    import os
    import subprocess
    import sys

    from lakehouse_app_spark.sources import layout as L

    cat = str(tmp_path / "cat")
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", cat)
    builds = []

    def build():
        builds.append(1)
        return spark.range(7).withColumnRenamed("id", "k")

    assert L.derived_table(spark, "t_restart", sf_dir, build).count() == 7
    assert builds == [1]

    # simulate process death: wipe the in-process memo; a rebuild
    # attempt would trip the booby-trapped builder
    L._BUILT.pop(L._table_dir("t_restart", sf_dir), None)

    def must_not_build():
        raise AssertionError("layout rebuilt despite durable commit")

    assert L.derived_table(spark, "t_restart", sf_dir, must_not_build).count() == 7
    assert L.layout_path("t_restart", sf_dir) is not None

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, sys\n"
        f"sys.path.insert(0, {repo_root!r})\n"
        f"os.environ['SPARK_GRAFT_LAYOUT_DIR'] = {cat!r}\n"
        "from lakehouse_app_spark.session import get_spark\n"
        "from lakehouse_app_spark.sources.layout import derived_table\n"
        "s = get_spark(app_name='layout-reuse-probe', master='local[2]',"
        " shuffle_partitions=2)\n"
        "def boom():\n"
        "    raise SystemExit('rebuilt in fresh process')\n"
        f"print('ROWS=' + str(derived_table(s, 't_restart', {sf_dir!r}, boom).count()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert "ROWS=7" in out.stdout, out.stdout + "\n" + out.stderr


def test_layout_fingerprint_tracks_corpus_content(tmp_path):
    """A regenerated corpus (same path, new bytes) must fingerprint
    differently so stale layouts are never served."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_app_spark.sources.layout import corpus_fingerprint

    d = tmp_path / "sfX"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(d / "t.parquet"))
    f1 = corpus_fingerprint(str(d))
    pq.write_table(pa.table({"a": [1, 2, 3, 4]}), str(d / "t.parquet"))
    f2 = corpus_fingerprint(str(d))
    assert f1 != f2
    assert f1.startswith("sfX-") and f2.startswith("sfX-")


def test_layout_commit_skips_crashed_writer_orphan(spark, sf_dir, tmp_path, monkeypatch):
    """A crashed layout build leaves a data dir with no manifest;
    the next build must commit past it (fresh version) instead of
    wedging on the errorifexists write, and readers must never see
    the orphan."""
    import os as _os

    from lakehouse_app_spark.sources import layout as L

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "cat"))
    tdir = L._table_dir("t_orphan", sf_dir)
    _os.makedirs(_os.path.join(tdir, "v=0"))  # crashed writer's garbage
    with open(_os.path.join(tdir, "v=0", "part-junk"), "w") as fh:
        fh.write("not parquet")

    df = L.derived_table(
        spark, "t_orphan", sf_dir, lambda: spark.range(5).withColumnRenamed("id", "k")
    )
    assert df.count() == 5
    assert L.layout_path("t_orphan", sf_dir).endswith("v=1")


def test_layout_gc_sweeps_stale_fingerprints(spark, tmp_path, monkeypatch):
    """After a corpus regenerates, gc_layouts removes the previous
    fingerprint's directory and leaves the current one untouched."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_app_spark.sources import layout as L

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "cat"))
    corpus = tmp_path / "sfgc"
    corpus.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(corpus / "t.parquet"))

    L.derived_table(spark, "t_gc", str(corpus), lambda: spark.range(3))
    old_path = L.layout_path("t_gc", str(corpus))
    assert old_path is not None

    # regenerate the corpus → new fingerprint; old layout is stale
    pq.write_table(pa.table({"a": [1, 2]}), str(corpus / "t.parquet"))
    L._BUILT.clear()
    removed = L.gc_layouts(str(corpus))
    assert len(removed) == 1 and not os.path.isdir(removed[0])
    assert L.layout_path("t_gc", str(corpus)) is None  # stale never served

    # rebuild under the new fingerprint, then GC removes nothing
    L.derived_table(spark, "t_gc", str(corpus), lambda: spark.range(4))
    assert L.gc_layouts(str(corpus)) == []
    assert L.layout_path("t_gc", str(corpus)) is not None


def test_stats_pruned_reader_empty_intersection_keeps_schema(spark, tmp_path):
    """A predicate range beyond every file's stats must return an
    EMPTY frame with the full schema (not an error, not a full
    scan)."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_stats_pruned,
        write_stats_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(100).withColumn("k", F.col("id")).write.parquet(path)
    write_stats_manifest(spark, path, "k")
    out = read_stats_pruned(spark, path, 10_000, 20_000)
    assert out.columns == ["id", "k"]
    assert out.count() == 0


def test_rest_json_writer_two_phase_commit_and_overwrite(spark, tmp_path):
    """Round-6 review fixes: tasks write dot-prefixed temps that the
    driver-side commit renames (plus a _SUCCESS marker), and
    overwrite clears prior part files so a smaller write can't leave
    stale high-numbered parts mixed in."""
    import os

    from lakehouse_app_spark.sources.rest_json_source import (
        register_rest_json_source,
    )

    register_rest_json_source(spark)
    out = tmp_path / "w"
    df8 = spark.range(16).selectExpr("CAST(id AS STRING) AS v").repartition(8)
    df8.write.format("rest_json").option("path", str(out)).mode(
        "overwrite"
    ).save()
    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    assert sum(n.startswith("part-") for n in names) == 8
    assert not any(n.endswith(".inprogress") for n in names)

    df2 = spark.range(4).selectExpr("CAST(id AS STRING) AS v").repartition(2)
    df2.write.format("rest_json").option("path", str(out)).mode(
        "overwrite"
    ).save()
    names = sorted(os.listdir(out))
    assert sum(n.startswith("part-") for n in names) == 2  # no stale parts
    back = spark.read.json(str(out / "part-*.jsonl"))
    assert back.count() == 4


def test_bucketed_write_append_preserves_existing_rows(spark, tmp_path):
    """write_bucketed_table(mode='append') must never run the
    overwrite path's drop/rmtree preamble — appending doubles the
    rows, it doesn't replace them."""
    from lakehouse_app_spark.sources.sinks import write_bucketed_table

    df = spark.range(10).selectExpr("id AS k", "id * 2 AS v")
    write_bucketed_table(df, "t_bkt_append", "k", n_buckets=4)
    write_bucketed_table(df, "t_bkt_append", "k", n_buckets=4, mode="append")
    assert spark.table("t_bkt_append").count() == 20
    spark.sql("DROP TABLE IF EXISTS t_bkt_append")


def test_load_tables_views_track_requested_sf_dir(spark):
    """Review r6 (confirmed live): a load_tables cache hit must
    re-register the session temp views when they currently point at
    a DIFFERENT scale factor — otherwise every spark.sql-path
    builder silently reads the wrong dataset."""
    from lakehouse_app_spark.sources.tables import load_tables

    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    n_a = load_tables(spark, a).orders.count()
    n_b = load_tables(spark, b).orders.count()
    assert n_a != n_b
    assert spark.sql("SELECT count(*) FROM orders").first()[0] == n_b
    load_tables(spark, a)  # cache hit — views must flip back
    assert spark.sql("SELECT count(*) FROM orders").first()[0] == n_a
    load_tables(spark, a)  # repeat hit, still consistent
    assert spark.sql("SELECT count(*) FROM orders").first()[0] == n_a


def test_pb_vendor_runtime_materializes_and_is_idempotent(monkeypatch, tmp_path):
    """The vendored protobuf runtime (sources/pb_vendor.py) must build
    a complete, shimmed google.protobuf copy from an on-host source,
    marker-last (a crashed half-copy rebuilds), and cache the probe
    result per process."""
    import lakehouse_app_spark.sources.pb_vendor as pbv

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "layouts"))
    monkeypatch.setattr(pbv, "_resolved", False)
    d = pbv.protobuf_runtime_dir()
    if d is None:
        import pytest

        pytest.skip("no protobuf source on this host")
    if d == "":
        return  # stock package importable: nothing vendored
    import os

    assert os.path.isfile(os.path.join(d, "_complete"))
    rv = open(os.path.join(d, "google/protobuf/runtime_version.py")).read()
    assert "spark-graft vendored-copy shim" in rv
    # idempotent: second resolve returns the memo without rebuilding
    before = os.stat(os.path.join(d, "_complete")).st_mtime_ns
    assert pbv.protobuf_runtime_dir() == d
    assert os.stat(os.path.join(d, "_complete")).st_mtime_ns == before


def test_pb_vendor_heal_quarantines_instead_of_deleting(monkeypatch, tmp_path):
    """A marker-less vendor dir (pre-staging-era or crashed garbage)
    must be healed by an ATOMIC quarantine rename + fresh claim —
    never an in-place rmtree, which could delete a tree a concurrent
    process is importing from (review r7)."""
    import os

    import lakehouse_app_spark.sources.pb_vendor as pbv

    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "layouts"))
    monkeypatch.setattr(pbv, "_resolved", False)
    src = None
    for cand in [os.environ.get("SPARK_GRAFT_PROTOBUF_SRC", "")] + list(
        pbv._PB_SRC_CANDIDATES
    ):
        if cand and os.path.isfile(
            os.path.join(cand, "google", "protobuf", "descriptor.py")
        ):
            src = cand
            break
    if src is None:
        import pytest

        pytest.skip("no protobuf source on this host")
    # plant marker-less garbage at the vendor path
    dst = pbv._vendor_root()
    os.makedirs(os.path.join(dst, "google"), exist_ok=True)
    junk = os.path.join(dst, "google", "half_written.py")
    open(junk, "w").write("# crashed copy\n")
    healed = pbv._build_vendor_copy(src)
    assert healed == dst
    assert os.path.isfile(os.path.join(dst, "_complete"))
    assert not os.path.exists(junk)  # garbage no longer AT the path...
    quarantined = [
        p for p in os.listdir(os.path.dirname(dst))
        if ".quarantine-" in p
    ]
    assert quarantined  # ...but preserved, renamed aside, not deleted
    qdir = os.path.join(os.path.dirname(dst), quarantined[0])
    assert os.path.isfile(os.path.join(qdir, "google", "half_written.py"))


def test_compact_roundtrip_physical_file_counts(spark, sf_dir):
    """q_compact_roundtrip's oracle already pins n_files == 1 per
    bucket through the hash compare; this test pins the OTHER half of
    the physical claim — the fragmented landing really was one file
    per day, so the rewrite measurably REDUCED the file count — by
    inspecting the scratch tree the query just wrote."""
    import os

    from lakehouse_app_spark.registry import QUERIES
    from lakehouse_app_spark.runtime_cache import _SCRATCH_DIRS

    rows = QUERIES["q_compact_roundtrip"](spark, sf_dir).collect()
    assert rows and all(r["n_files"] == 1 for r in rows)

    root = _SCRATCH_DIRS["compact_rt_"]

    def parquet_files(d):
        return [
            os.path.join(p, f)
            for p, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]

    # since r14 the fragmented landing is a build-once derived layout
    # (the fixture); the compacted rewrite stays in the scratch tree
    from lakehouse_app_spark.sources.layout import layout_path

    frag_dir = layout_path("compact_frag", sf_dir)
    assert frag_dir is not None, "fragmented layout must be committed"
    frag = parquet_files(frag_dir)
    comp = parquet_files(os.path.join(root, "compacted"))
    n_days = len(
        {p.split("day=")[1].split("/")[0] for p in frag if "day=" in p}
    )
    assert len(frag) == n_days, "landing zone must be one file per day"
    assert len(comp) == len(rows), "one file per compacted bucket"
    assert len(comp) < len(frag), "compaction must reduce file count"
    # bucket day-ranges stay disjoint and ordered (clusterable on the
    # original pruning key)
    spans = sorted((r["day_min"], r["day_max"], r["bucket"]) for r in rows)
    for (a_min, a_max, _), (b_min, _, _) in zip(spans, spans[1:]):
        assert a_max < b_min


def test_csv_ingest_roundtrips_embedded_newlines(spark, tmp_path):
    """The q_csv_ingest dialect (quoteAll write, explicit-schema
    multiLine read) must round-trip text containing embedded
    newlines and quotes byte-losslessly — the r9 ADVICE gap: without
    multiLine the reader splits a quoted multi-line field into
    spurious rows."""
    from pyspark.sql import functions as F

    rows = [
        (1, "en", "plain text", 10),
        (2, "en", "line one\nline two\nline three", 28),
        (3, "de", 'quote " and, comma\nnewline too', 30),
    ]
    src = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long"
    )
    out = str(tmp_path / "csv_nl")
    (
        src.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(out)
    )
    back = (
        spark.read.schema("doc_id long, lang string, text string, n_chars long")
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
    )
    got = sorted((r["doc_id"], r["text"]) for r in back.collect())
    assert got == sorted((d, t) for d, _, t, _ in rows), got
    assert back.count() == len(rows)


def test_corpus_scalar_memoizes_and_invalidates_on_regeneration(
    spark, tmp_path
):
    """The shared corpus-anchored-scalar recipe: compute runs ONCE per
    (session, corpus content, tag), is replayed on repeat calls, and a
    regenerated corpus (same path, new bytes) re-derives the value
    instead of serving the stale anchor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_app_spark.sources.layout import corpus_scalar

    d = tmp_path / "sfY"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(d / "t.parquet"))
    calls = []

    def compute():
        calls.append(1)
        return len(calls)

    v1 = corpus_scalar(spark, str(d), "probe", compute)
    v2 = corpus_scalar(spark, str(d), "probe", compute)
    assert v1 == v2 == 1 and len(calls) == 1  # memoized
    assert corpus_scalar(spark, str(d), "other", compute) == 2  # per-tag
    pq.write_table(pa.table({"a": [9, 9, 9, 9]}), str(d / "t.parquet"))
    assert corpus_scalar(spark, str(d), "probe", compute) == 3  # re-derived


def test_change_feed_apply_reconstructs_final_state(spark, sf_dir, tmp_path):
    """Feed-apply ≡ final state: replaying change_feed's rows over v0
    (add inserts + update_postimages, drop deletes +
    update_preimages) must reconstruct the latest version exactly —
    the invariant every CDF consumer relies on. Exercises insert,
    delete and both update images over a 3-commit lineage."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        change_feed,
        delete_where,
        read_snapshot,
        update_where,
        write_snapshot,
    )
    from lakehouse_app_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "source", "n_chars")
    path = str(tmp_path / "cdf")
    v0 = write_snapshot(docs.where(F.col("doc_id") % 10 == 3), path, "base")
    delete_where(spark, path, F.col("n_chars") < 100)
    update_where(
        spark, path, F.col("n_chars") >= 400, {"source": F.lit("archived")}
    )
    v3 = write_snapshot(
        read_snapshot(spark, path).unionByName(
            docs.where(F.col("doc_id") % 10 == 4)
        ),
        path,
        "append",
    )
    feed = change_feed(
        spark, path, v0, v3, "doc_id", ["source", "n_chars"]
    ).cache()
    # every update must come as a pre/post PAIR on the same commit
    pre = feed.where(F.col("change_type") == "update_preimage")
    post = feed.where(F.col("change_type") == "update_postimage")
    assert pre.count() == post.count() > 0
    assert (
        pre.select("doc_id", "commit_version")
        .exceptAll(post.select("doc_id", "commit_version"))
        .count()
        == 0
    )
    base = read_snapshot(spark, path, v0).select("doc_id", "source", "n_chars")
    add = feed.where(
        F.col("change_type").isin("insert", "update_postimage")
    ).select("doc_id", "source", "n_chars")
    drop = feed.where(
        F.col("change_type").isin("delete", "update_preimage")
    ).select("doc_id", "source", "n_chars")
    rebuilt = base.unionByName(add).exceptAll(drop)
    final = read_snapshot(spark, path, v3).select(
        "doc_id", "source", "n_chars"
    )
    assert rebuilt.exceptAll(final).count() == 0
    assert final.exceptAll(rebuilt).count() == 0


def test_stats_pruned_nd_full_and_disjoint_bounds(spark, sf_dir, tmp_path):
    """read_stats_pruned_nd must return the whole table under
    all-covering bounds, an empty (schema-stable) frame under a
    disjoint box, and never drop predicate-matching rows under a
    selective box (straddlers are read whole — exactness is the
    caller's row filter)."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_stats_pruned_nd,
        write_stats_manifest_nd,
    )
    from lakehouse_app_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "nd")
    t.lineitem.select("l_partkey", "l_suppkey", "l_quantity").repartitionByRange(
        8, "l_partkey"
    ).write.parquet(path)
    write_stats_manifest_nd(spark, path, ["l_partkey", "l_suppkey"])
    n_all = spark.read.parquet(path).count()
    full = read_stats_pruned_nd(
        spark, path, {"l_partkey": (0, 10**9), "l_suppkey": (0, 10**9)}
    )
    assert full.count() == n_all
    empty = read_stats_pruned_nd(
        spark, path, {"l_partkey": (-5, -1), "l_suppkey": (0, 10**9)}
    )
    assert empty.count() == 0
    assert empty.columns == full.columns
    box = read_stats_pruned_nd(
        spark, path, {"l_partkey": (10, 60), "l_suppkey": (1, 4)}
    ).where(
        F.col("l_partkey").between(10, 60) & F.col("l_suppkey").between(1, 4)
    )
    truth = (
        spark.read.parquet(path)
        .where(
            F.col("l_partkey").between(10, 60)
            & F.col("l_suppkey").between(1, 4)
        )
        .count()
    )
    assert box.count() == truth


def test_change_feed_degenerate_range_is_empty(spark, tmp_path):
    """(v_from, v_to] semantics: v_from >= v_to is an EMPTY feed with
    the full output schema, never an IndexError (advice r13)."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import change_feed, write_snapshot

    path = str(tmp_path / "cdf_empty")
    df = spark.createDataFrame([(1, "a", 10)], "k long, s string, n long")
    write_snapshot(df, path, "base")
    feed = change_feed(spark, path, 0, 0, "k", ["s", "n"])
    assert feed.columns == ["k", "s", "n", "change_type", "commit_version"]
    assert feed.count() == 0


def test_change_feed_rejects_non_unique_key(spark, tmp_path):
    """The per-version key-uniqueness contract is enforced: a
    duplicate key inside one version raises at execution instead of
    silently emitting arbitrary max()-selected images (advice r13)."""
    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from lakehouse_app_spark.sources.sinks import change_feed, write_snapshot

    path = str(tmp_path / "cdf_dup")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (1, "b")], "k long, s string"),
        path,
        "dup base",
    )
    write_snapshot(
        spark.createDataFrame([(1, "c")], "k long, s string"), path, "next"
    )
    with pytest.raises(Exception, match="not .*unique|ASSERT"):
        change_feed(spark, path, 0, 1, "k", ["s"]).collect()


def test_stats_pruned_nd_null_count_skipping(spark, tmp_path):
    """The r14 manifest's null/row counts skip files for IS NULL /
    IS NOT NULL predicates: an all-NULL file never serves a
    require_non_null read, a no-NULL file never serves a require_null
    read, and a mixed file serves both (conservative)."""
    import os

    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_stats_pruned_nd,
        write_stats_manifest_nd,
    )

    path = str(tmp_path / "nulls")
    # three files: all-NULL lang, no-NULL lang, mixed
    parts = [
        [(1, None), (2, None)],
        [(3, "en"), (4, "fr")],
        [(5, "de"), (6, None)],
    ]
    for i, rows in enumerate(parts):
        spark.createDataFrame(rows, "id long, lang string").coalesce(
            1
        ).write.mode("append").parquet(path)
    write_stats_manifest_nd(spark, path, ["id", "lang"])
    n_total = len(
        [f for f in os.listdir(path) if f.endswith(".parquet")]
    )
    assert n_total == 3

    def files_of(df):
        return {
            r[0]
            for r in df.select(
                F.col("_metadata.file_path")
            ).distinct().collect()
        }

    non_null = read_stats_pruned_nd(spark, path, require_non_null=["lang"])
    assert len(files_of(non_null)) == 2  # all-NULL file skipped
    assert (
        non_null.where(F.col("lang").isNotNull()).count() == 3
    )  # exactness with the row predicate in-plan
    nulls = read_stats_pruned_nd(spark, path, require_null=["lang"])
    assert len(files_of(nulls)) == 2  # no-NULL file skipped
    assert nulls.where(F.col("lang").isNull()).count() == 3


def test_stats_pruned_nd_decimal_stats_compare_numerically(spark, tmp_path):
    """Decimal stats round-trip the manifest as strings (JSON has no
    Decimal); the reader must parse them back — lexicographic
    comparison would prune '9' > '10' and drop matching rows
    (advice r13)."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_stats_pruned_nd,
        write_stats_manifest_nd,
    )

    path = str(tmp_path / "dec")
    # one file holding value 9.50: under lexicographic compare the
    # probe interval [10, 20] ('10' < '9.50' as strings) would WRONGLY
    # keep it while [2, 3] ('2' < '9.50' < ... ) shows the dual bug;
    # the decisive case: file [100.00, 150.00] vs probe (20, 30) —
    # '20' < '100.00' is FALSE lexicographically ('1' < '2'), so the
    # buggy reader KEEPS the file; numerically 100 > 30 prunes it.
    spark.createDataFrame(
        [(1, "100.00"), (2, "150.00")], "id long, amt string"
    ).select(
        "id", F.col("amt").cast("decimal(10,2)").alias("amt")
    ).coalesce(1).write.parquet(path)
    write_stats_manifest_nd(spark, path, ["amt"])
    pruned = read_stats_pruned_nd(spark, path, {"amt": (20, 30)})
    assert pruned.count() == 0  # numerically disjoint -> pruned
    kept = read_stats_pruned_nd(spark, path, {"amt": (90, 120)})
    assert kept.count() == 2  # numerically intersecting -> read


def test_corpus_dir_builds_once_and_survives_processes(
    spark, tmp_path, monkeypatch
):
    """corpus_dir commits a whole snapshot lineage exactly once per
    corpus content: a second call (and a simulated fresh process —
    cleared in-process memo) reuses the durable commit byte-for-byte;
    a failed build leaves no readable half-lineage."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from lakehouse_app_spark.sources import layout
    from lakehouse_app_spark.sources.sinks import (
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(corpus / "t.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "cat"))

    calls = []

    def build(root):
        calls.append(root)
        df = spark.createDataFrame([(1, "x")], "k long, s string")
        write_snapshot(df, root, "base")
        write_snapshot(df.withColumn("s", F.lit("y")), root, "mut")

    r1 = layout.corpus_dir("lin", str(corpus), build)
    assert len(snapshot_history(r1)) == 2
    mtimes = {
        f: os.path.getmtime(os.path.join(r1, f)) for f in os.listdir(r1)
    }
    r2 = layout.corpus_dir("lin", str(corpus), build)
    assert r1 == r2 and len(calls) == 1  # in-process memo
    layout._PUBLISHED.clear()  # simulate a fresh process
    r3 = layout.corpus_dir("lin", str(corpus), build)
    assert r3 == r1 and len(calls) == 1  # durable reuse, no rebuild
    assert {
        f: os.path.getmtime(os.path.join(r1, f)) for f in os.listdir(r1)
    } == mtimes
    assert read_snapshot(spark, r3, 1).collect()[0]["s"] == "y"

    # a failing build leaves no readable lineage behind (skip the
    # 30 s concurrent-winner poll: no concurrency in this test)
    import time

    monkeypatch.setattr(time, "sleep", lambda s: None)

    def bad_build(root):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        layout.corpus_dir("lin2", str(corpus), bad_build)
    lin2 = layout._table_dir("lin2", str(corpus))
    assert not os.path.exists(lin2)
    assert not [
        d for d in os.listdir(os.path.dirname(lin2)) if d.startswith("lin2")
    ]  # the failed staging root is removed too


def test_merge_into_multi_clause_semantics(spark, tmp_path):
    """The full MERGE contract on a hand-crafted table: clause ORDER
    (first satisfied wins), conditional WHEN NOT MATCHED BY SOURCE
    scope, unlisted-column preservation on UPDATE, no-clause rows
    kept, ONE commit_version in the feed, and feed-apply ≡ final."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        change_feed,
        merge_into,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "m")
    # k=1 short (matched-delete), k=2 long (matched-update), k=3 mid
    # src5 (nmbs-delete), k=4 mid other (nmbs-keep), k=5 insert
    base = spark.createDataFrame(
        [(1, "src5", 50), (2, "src9", 500), (3, "src5", 200),
         (4, "src9", 200)],
        "k long, src string, n long",
    )
    source = spark.createDataFrame(
        [(1, "srcX", 50), (2, "srcX", 500), (5, "srcN", 123)],
        "k long, src string, n long",
    )
    v0 = write_snapshot(base, path, "base")
    v1 = merge_into(
        spark,
        path,
        source,
        "k",
        matched=[
            (F.col("s.n") < 100, "delete", None),
            # clause ORDER: k=1 satisfies BOTH conds; delete must win
            (None, "update", {"src": F.lit("archived")}),
        ],
        not_matched=[(None, None)],
        not_matched_by_source=[(F.col("t.src") == "src5", "delete", None)],
    )
    final = {
        r["k"]: (r["src"], r["n"])
        for r in read_snapshot(spark, path, v1).collect()
    }
    assert final == {
        2: ("archived", 500),  # update sets src, PRESERVES n
        4: ("src9", 200),      # nmbs condition false -> kept
        5: ("srcN", 123),      # inserted from source
    }
    feed = change_feed(spark, path, v0, v1, "k", ["src", "n"]).collect()
    assert {r["commit_version"] for r in feed} == {1}  # ONE transaction
    by_type = {}
    for r in feed:
        by_type.setdefault(r["change_type"], set()).add(r["k"])
    assert by_type == {
        "delete": {1, 3},
        "update_preimage": {2},
        "update_postimage": {2},
        "insert": {5},
    }


def test_bloom_manifest_prunes_without_false_negatives(spark, tmp_path):
    """Bloom sidecar contract: every file holding a probed value is
    kept (no false negatives — correctness), absent values prune to
    a small false-positive tail (I/O), and the reader's row predicate
    keeps results exact through any false positive."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_bloom_pruned,
        write_bloom_manifest,
    )

    path = str(tmp_path / "bloom")
    # 4 files x 100 distinct ids each, disjoint ranges
    for lo in (0, 100, 200, 300):
        spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ).coalesce(1).write.mode("append").parquet(path)
    man = write_bloom_manifest(spark, path, "k")
    assert len(man["files"]) == 4

    # present values: each lives in exactly one file; the bloom must
    # keep that file (possibly plus false positives) and the read be
    # exact after the row predicate
    got = read_bloom_pruned(spark, path, "k", [5, 205])
    rows = {r["k"] for r in got.where(F.col("k").isin(5, 205)).collect()}
    assert rows == {5, 205}
    # absent value: with 100 distinct per 4096-bit/k=3 filter the
    # false-positive rate is < 1%, so probing 50 absent values must
    # prune SOME files overall (statistical but astronomically safe)
    import json
    import os

    with open(os.path.join(path, "_bloom_k.json")) as fh:
        files_total = len(json.load(fh)["files"])
    kept = {
        r[0]
        for r in read_bloom_pruned(
            spark, path, "k", [10_000 + i for i in range(5)]
        )
        .select(F.col("_metadata.file_path"))
        .distinct()
        .collect()
    }
    assert len(kept) < files_total


def test_mor_delete_is_zero_rewrite(spark, tmp_path):
    """A merge-on-read DELETE must not touch the base data files:
    the commit is a manifest + an O(deleted keys) DV sidecar, and
    the resolved read equals the COW delete's content."""
    import os

    from lakehouse_app_spark.sources.sinks import (
        delete_where_mor,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "mor")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    write_snapshot(df.repartition(4), path, "base")
    base_dir = os.path.join(path, "v=0")
    before = {
        f: (os.path.getsize(os.path.join(base_dir, f)),
            os.path.getmtime(os.path.join(base_dir, f)))
        for f in os.listdir(base_dir)
    }

    v1 = delete_where_mor(spark, path, F.col("k") % 10 == 0, "k")
    assert v1 == 1
    after = {
        f: (os.path.getsize(os.path.join(base_dir, f)),
            os.path.getmtime(os.path.join(base_dir, f)))
        for f in os.listdir(base_dir)
    }
    assert before == after  # base files byte-identical
    assert not os.path.exists(os.path.join(path, "v=1"))  # no data copy
    assert os.path.isdir(os.path.join(path, "dv=1"))

    got = sorted(r["k"] for r in read_snapshot(spark, path).collect())
    assert got == [k for k in range(100) if k % 10 != 0]
    # v0 stays readable, untouched
    assert read_snapshot(spark, path, 0).count() == 100


def test_mor_chain_optimize_and_change_feed(spark, tmp_path):
    """A two-DV chain resolves per version; OPTIMIZE materializes the
    head as a COW commit equal to it; change_feed reports a MOR
    commit's rows as deletes at its own version."""
    import os

    from lakehouse_app_spark.sources.sinks import (
        apply_deletion_vectors,
        change_feed,
        delete_where_mor,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "morchain")
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    write_snapshot(df, path, "base")
    delete_where_mor(spark, path, F.col("k") < 10, "k")
    delete_where_mor(spark, path, F.col("k") >= 40, "k")

    assert read_snapshot(spark, path, 1).count() == 40
    got2 = sorted(r["k"] for r in read_snapshot(spark, path, 2).collect())
    assert got2 == list(range(10, 40))

    v3 = apply_deletion_vectors(spark, path)
    assert v3 == 3
    assert os.path.isdir(os.path.join(path, "v=3"))
    got3 = sorted(r["k"] for r in read_snapshot(spark, path, 3).collect())
    assert got3 == got2
    # idempotent: a materialized head is a no-op
    assert apply_deletion_vectors(spark, path) == 3

    feed = change_feed(spark, path, 0, 2, "k", ["v"]).collect()
    by_ver = {}
    for r in feed:
        assert r["change_type"] == "delete"
        by_ver.setdefault(r["commit_version"], []).append(r["k"])
    assert sorted(by_ver[1]) == list(range(10))
    assert sorted(by_ver[2]) == list(range(40, 50))


def test_expire_keeps_dv_base_until_optimize(spark, tmp_path):
    """Iceberg's reachability rule: expire_snapshots must not delete
    a version referenced by a live head's DV base chain — and after
    OPTIMIZE unpins it, the same expire reclaims everything."""
    import os

    from lakehouse_app_spark.sources.sinks import (
        apply_deletion_vectors,
        delete_where_mor,
        expire_snapshots,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "morexp")
    df = spark.range(30).select(F.col("id").alias("k"))
    write_snapshot(df, path, "base")
    delete_where_mor(spark, path, F.col("k") < 5, "k")

    expired = expire_snapshots(path, keep_last=1, orphan_grace_sec=0.0)
    assert expired == []  # v0 is reachable from the live DV head v1
    assert read_snapshot(spark, path).count() == 25  # head still whole

    apply_deletion_vectors(spark, path)  # v2 materialized
    expired = expire_snapshots(path, keep_last=1, orphan_grace_sec=1e9)
    assert expired == [0, 1]
    assert not os.path.exists(os.path.join(path, "v=0"))
    assert not os.path.exists(os.path.join(path, "dv=1"))
    assert read_snapshot(spark, path).count() == 25


def test_mor_mixed_key_rejected_at_commit_time(spark, tmp_path):
    """A second MOR delete keyed on a different column must fail at
    COMMIT time (a mixed-key DV chain can't resolve in one
    anti-join) — and OPTIMIZE clears the restriction."""
    import pytest

    from lakehouse_app_spark.sources.sinks import (
        apply_deletion_vectors,
        delete_where_mor,
        write_snapshot,
    )

    path = str(tmp_path / "mormix")
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") % 3).alias("g"))
    write_snapshot(df, path, "base")
    delete_where_mor(spark, path, F.col("k") < 5, "k")
    with pytest.raises(ValueError, match="dv_key|key"):
        delete_where_mor(spark, path, F.col("g") == 0, "g")
    apply_deletion_vectors(spark, path)
    assert delete_where_mor(spark, path, F.col("g") == 0, "g") == 3


def test_named_refs_tag_branch_semantics(spark, sf_dir, tmp_path):
    """Iceberg-style refs: tags pin immutably (idempotent re-tag of
    the same version, error on any other), branches fast-forward only
    (backwards move and unknown targets raise), tags shadow branches
    on name collision, and read_ref resolves through either kind."""
    import pytest as _pytest

    from lakehouse_app_spark.sources.sinks import (
        advance_branch,
        create_branch,
        create_tag,
        drop_ref,
        read_ref,
        resolve_ref,
        write_snapshot,
    )

    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "tbl")
    for n in (3, 5, 7):
        write_snapshot(t.orders.limit(n), path, note=f"n={n}")

    assert create_tag(path, "rel", 0) == 0
    assert create_tag(path, "rel", 0) == 0  # idempotent same-version
    with _pytest.raises(ValueError, match="immutable"):
        create_tag(path, "rel", 1)
    with _pytest.raises(ValueError, match="not committed"):
        create_tag(path, "ghost", 42)

    assert create_branch(path, "main") == 2  # default = latest
    with _pytest.raises(ValueError, match="already exists"):
        create_branch(path, "main", 0)
    with _pytest.raises(KeyError):
        advance_branch(path, "nope", 2)
    with _pytest.raises(ValueError, match="backwards"):
        advance_branch(path, "main", 1)
    assert advance_branch(path, "main", 2) == 2  # no-op fast-forward

    assert read_ref(spark, path, "rel").count() == 3
    assert read_ref(spark, path, "main").count() == 7

    # tag shadows branch on a name collision (Iceberg name-uniqueness)
    create_branch(path, "rel", 2)
    assert resolve_ref(path, "rel") == 0

    drop_ref(path, "rel")  # drops the TAG first...
    assert resolve_ref(path, "rel") == 2  # ...then the branch resolves
    drop_ref(path, "rel")
    with _pytest.raises(KeyError):
        resolve_ref(path, "rel")


def test_expire_snapshots_honors_ref_pins(spark, sf_dir, tmp_path):
    """Refs participate in expireSnapshots reachability: a tagged (or
    branch-pointed) version outside the keep_last window survives
    with its files intact and stays readable; dropping the ref makes
    it expirable again on the next sweep."""
    import os

    import pytest as _pytest

    from lakehouse_app_spark.sources.sinks import (
        create_branch,
        create_tag,
        drop_ref,
        expire_snapshots,
        read_snapshot,
        write_snapshot,
    )

    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "tbl")
    for n in (3, 5, 7, 9, 11):
        write_snapshot(t.orders.limit(n), path, note=f"n={n}")
    create_tag(path, "pin0", 0)
    create_branch(path, "dev", 1)

    expired = expire_snapshots(path, keep_last=1)
    assert expired == [2, 3]  # v0 tag-pinned, v1 branch-pinned, v4 window
    assert read_snapshot(spark, path, 0).count() == 3
    assert read_snapshot(spark, path, 1).count() == 5
    assert os.path.exists(os.path.join(path, "v=0"))
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, path, 2)

    drop_ref(path, "pin0")
    assert expire_snapshots(path, keep_last=1) == [0]
    assert not os.path.exists(os.path.join(path, "v=0"))
    # the branch pin still holds
    assert read_snapshot(spark, path, 1).count() == 5


def test_wap_branch_isolation(spark, sf_dir, tmp_path):
    """Write-audit-publish: staged commits are invisible through the
    published branch until an explicit fast-forward, and a rejected
    stage never moves the branch — the reader-facing isolation that
    makes audit failures free."""
    from lakehouse_app_spark.sources.sinks import (
        advance_branch,
        create_branch,
        read_ref,
        resolve_ref,
        write_snapshot,
    )

    t = load_tables(spark, sf_dir)
    path = str(tmp_path / "tbl")
    write_snapshot(t.orders.limit(4), path, note="base")
    create_branch(path, "main", 0)

    write_snapshot(t.orders.limit(6), path, note="staged")
    assert read_ref(spark, path, "main").count() == 4  # stage invisible
    advance_branch(path, "main", 1)  # audit passed -> publish
    assert read_ref(spark, path, "main").count() == 6

    write_snapshot(t.orders.limit(99), path, note="staged-bad")
    # audit failed -> no advance; the branch (and its readers) never
    # see the rejected stage even though it is the table's latest
    assert resolve_ref(path, "main") == 1
    assert read_ref(spark, path, "main").count() == 6
