"""Compile-free steady state: the engine's session sizes Spark's
generated-class cache to the engine's working set
(``session.CODEGEN_CACHE_ENTRIES``), so a repeated query reuses its
compiled classes instead of handing Janino the same source again.

Run as a script, the module sweeps every registered key twice in one
fresh session and prints the compile counts and times of both sweeps:

    python tests/test_codegen_cache.py <sf_dir> [max_entries]

``max_entries`` overrides the engine's cache size for that run (100 is
Spark's default), which gives the before/after of the sizing.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_app_spark import QUERIES, load_all_queries, release_caches
from lakehouse_app_spark.session import CODEGEN_CACHE_ENTRIES

# 96 classes at sf0.001, more than Spark's default cache holds (~25 in
# each of its 4 LRU segments): with the default, every round recompiles
# about a quarter of them.
STEADY_KEYS = [
    "q_vs_retrieve", "q_upsert", "q_stream_tumbling",
    "q_topk_cosine", "q_format_docs", "q_dedup_sources",
    "q_truncate_render", "q_context_pack", "q_chunk_documents",
    "q_regex_transform", "q_tpch_q6", "q_tpch_q14", "q_join_inner",
    "q_orderby_limit", "q_filter_pred",
]


def compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def sweep(spark, sf_dir: str, keys) -> int:
    """Run each key once as an operation — build, execute into the
    noop sink, ``release_caches()`` — and return the classes compiled
    meanwhile."""
    before = compiles(spark)
    for key in keys:
        QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_caches()
    return compiles(spark) - before


def test_session_reports_the_engine_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_repeated_queries_do_not_recompile(spark, sf_dir):
    rounds = [sweep(spark, sf_dir, STEADY_KEYS) for _ in range(3)]
    assert rounds[2] == 0, f"classes compiled per round: {rounds}"


def _main(sf_dir: str, max_entries: str | None) -> None:
    from lakehouse_app_spark import get_spark, session

    if max_entries is not None:
        session.CODEGEN_CACHE_ENTRIES = int(max_entries)
    load_all_queries()
    spark = get_spark(app_name="codegen-sweep")
    print("maxEntries", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    keys = sorted(QUERIES)
    for label in ("first", "second"):
        t0 = time.perf_counter()
        n = sweep(spark, sf_dir, keys)
        print(f"{label} sweep: {len(keys)} keys, {n} classes compiled, "
              f"{time.perf_counter() - t0:.1f} s", flush=True)
    spark.stop()


if __name__ == "__main__":
    _main(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else None)
