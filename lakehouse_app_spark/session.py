"""SparkSession factory and runtime configuration.

Mirrors the reference's session bootstrap role (`app/app.py:34-94`
builds its chain once per session; we build a SparkSession once per
process) but targets Spark's execution model: AQE on, UTC, Arrow for
pandas interchange, and the load-bearing ns-timestamp legacy flag
(SURVEY.md §A.1) without which the `events` table is unreadable.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

# AQE default ON, overridable per deployment profile. Measured both
# ways at sf0.1: single-shuffle floor queries run 30-50% faster
# without AQE (the stage barrier dominates), but multi-shuffle
# queries (chained windows/aggregates: scd2_lookup, bm25, count-min)
# REGRESS ~2× without it — un-coalesced 32-task stages beat the
# barrier saving — and the full 182-query suite is net faster with
# AQE on. Results are AQE-invariant (tests/test_plan_shapes.py), so
# the env knob is pure deployment configuration.
_AQE_DEFAULT = os.environ.get("SPARK_GRAFT_AQE", "true")

# Runtime-settable SQL confs that every entry point must guarantee,
# even when handed a SparkSession it did not create (the driver's).
RUNTIME_CONFS = {
    # events.parquet carries timestamp[ns]; Spark 4 hard-fails without this.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Determinism: timezone-free comparisons against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE per deployment profile (see _AQE_DEFAULT above).
    "spark.sql.adaptive.enabled": _AQE_DEFAULT,
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Arrow-accelerated pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Right-size shuffles for the bench/correctness scale; AQE coalesces
    # further. (Also applied to driver-owned sessions: 200 state-store
    # partitions make local streaming queries pointlessly slow.)
    # 8, not 32 (round-8 interleaved A/B over a 15-query shuffle-heavy
    # subset at sf0.1: 32→8 measured 16.8→14.1 s min-of-3, with wins up
    # to 1.6× on the dedup/sketch family and only q_drift_ks mildly
    # regressing): at ~1 MB/partition the per-task launch overhead of a
    # 32-way exchange dominates its parallelism. Pure deployment
    # sizing — results are partition-count-invariant (AQE-invariance
    # plan tests), and a cluster profile overrides via
    # SPARK_GRAFT_SHUFFLE_PARTITIONS.
    "spark.sql.shuffle.partitions": "8",
}

# Input-split sizing is a deployment profile, like shuffle width: the
# 128 MB default is right for a many-file cluster corpus, but a
# single-file local corpus larger than one split (the sf1 scale study:
# lineitem 140 MB) scans as ~2 input tasks on 32 cores unless the
# split size is lowered. Settable per deployment; results are
# split-count-invariant (same AQE-invariance argument as shuffle
# width).
_MPB = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
if _MPB:
    RUNTIME_CONFS["spark.sql.files.maxPartitionBytes"] = _MPB

# Generated-class cache sized to the engine's codegen working set.
# Spark 4.1.2 keeps compiled whole-stage/expression classes in a Guava
# cache of spark.sql.codegen.cache.maxEntries (default 100) split into
# 4 LRU segments, so a segment starts evicting past ~25 classes. One
# sweep of all 261 keys at sf0.01 compiles 2,870 distinct classes;
# the benchmark's 14-key serve pass needs ~90. With the default cache
# every repeated query recompiles and puts Janino, then fresh JIT
# warm-up, on its blocking path: a second sweep of every key
# recompiled 3,846 classes in 144 s, against 46 classes in 116 s at
# 4096 (local[4], 4 cores; `python tests/test_codegen_cache.py`). 4096
# gives each segment 1024 slots, room for the whole suite with hash
# skew to spare; JVM peak RSS stayed within 1 %. A static conf: it
# goes on the SparkSession builder only (in RUNTIME_CONFS,
# ensure_runtime_confs would fail to set it on every call), so a
# session handed in from outside (`entry(spark)`) keeps Spark's 100
# entries — same results, more compiles.
CODEGEN_CACHE_ENTRIES = 4096


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs on an existing session (idempotent).

    Floor-shaving attempt recorded (round 8, negative result): the
    transformWithStateInPandas driver-worker is a fresh interpreter
    per query (StreamingPythonRunner → createSimpleWorker, no daemon)
    whose cold `import pyspark` from pyspark.zip costs ~0.95 s vs
    ~0.55 s from the unzipped source tree (zipimport cannot cache
    .pyc). Prepending $SPARK_HOME/python to the worker PYTHONPATH via
    SparkContext.environment does NOT capture the saving — the JVM
    prepends sparkPythonPath (the zips) ahead of user PYTHONPATH at
    worker launch, so the zip still wins resolution, while the env
    mutation re-keys the daemon worker pool and forfeits warm
    workers (A/B: floor 1.94-2.01 s stock vs 2.12-2.46 s injected).
    The tws_floor_sec instrument in bench.py stays the honest
    decomposition."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this session; builder path covers it
    return spark


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the block; on exit — normal or
    raising, including a failure while setting them — every key gets
    its previous value back, or is unset if it had none. The one way
    the engine scopes a session conf: sequential queries share the
    session, so a leaked value would change a later query's plan."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def get_spark(
    app_name: str = "lakehouse-app-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are sized for the local test harness (local[N], small
    shuffles); on a real cluster the same code runs with cluster-mode
    master/partition settings — every operator is declared against the
    DataFrame API, so scaling is a config change, not a code change.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if SparkSession.getActiveSession() is None:
        # managed tables (bucketed writers) land in a scratch dir, not
        # cwd. Created only when a session will actually be BUILT —
        # getOrCreate ignores configs on an existing session, so a
        # per-call mkdtemp leaked one orphan dir per get_spark call
        # (review r6)
        import tempfile

        builder = builder.config(
            "spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="spark_wh_")
        )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # AFTER the RUNTIME_CONFS loop — that dict carries its own
    # default for this key and silently overrode the parameter/env
    # knob when this was set first (review r6, confirmed live)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions)
    )
    spark = builder.getOrCreate()
    ensure_runtime_confs(spark)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
