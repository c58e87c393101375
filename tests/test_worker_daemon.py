"""The engine's Python worker daemon (``lakehouse_app_spark.worker_daemon``):
the engine's session forks its Python workers from it, a worker keeps
an unchanged archive's directory across ``importlib.invalidate_caches()``
and re-reads a changed one, its preloaded heap is frozen, and a
preload import that fails does not stop the daemon serving UDFs.

Run as a script, the module runs every registered key once in one
fresh session and prints, for each key that used Python-worker CPU,
that CPU (process-tree ``/proc`` deltas below the JVM) and the key's
wall time, then the totals over all keys:

    python tests/test_worker_daemon.py <sf_dir> [--stock]

``--stock`` forks the workers from ``pyspark.daemon`` instead, which
gives the before/after of the daemon.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import cloudpickle

from lakehouse_app_spark import QUERIES, load_all_queries, release_caches
from lakehouse_app_spark.session import WORKER_DAEMON_MODULE

# Workers cannot import this module: ship its functions by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _in_worker(spark, fn, arg=None):
    """``fn(arg)`` evaluated in one Python worker task."""
    return spark.sparkContext.parallelize([arg], 1).map(fn).collect()[0]


def _archive_reads(zip_path):
    import importlib
    import os
    import sys
    import zipimport

    spark_imps = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter)
    ]
    before = [v._files for v in spark_imps]
    imp = sys.path_importer_cache[zip_path] = zipimport.zipimporter(zip_path)
    try:
        importlib.invalidate_caches()
        first = imp._files
        importlib.invalidate_caches()
        kept = imp._files is first and all(
            v._files is b for v, b in zip(spark_imps, before)
        )
        st = os.stat(zip_path)
        os.utime(zip_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        reread = imp._files is not first
    finally:
        del sys.path_importer_cache[zip_path]
    return len(spark_imps), kept, reread


def _freeze_count(_):
    import gc

    return gc.get_freeze_count()


def test_session_reports_the_daemon_module(spark):
    assert spark.conf.get("spark.python.daemon.module") == WORKER_DAEMON_MODULE


def test_worker_rereads_only_changed_archives(spark, tmp_path):
    import zipfile

    zip_path = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr("lib_mod.py", "X = 1\n")
    n_spark, kept, reread = _in_worker(spark, _archive_reads, zip_path)
    assert n_spark > 0, "the worker imports pyspark from no archive"
    assert kept, "an unchanged archive's directory was read again"
    assert reread, "an archive whose mtime changed was not read again"


def test_worker_heap_is_frozen(spark):
    assert _in_worker(spark, _freeze_count) > 0


# Put on the workers' PYTHONPATH, it makes the named preload import
# raise ImportError in the daemon process only; the workers forked
# from it import the module normally.
_BLOCK_PRELOAD = '''
import os, sys
BLOCKED = []
if {module!r} in sys.orig_argv:
    _daemon = os.getpid()

    class _Block:
        def find_spec(self, name, path=None, target=None):
            if name == {blocked!r} and os.getpid() == _daemon:
                BLOCKED.append(name)
                raise ImportError(name + " is blocked in the daemon")
            return None

    sys.meta_path.insert(0, _Block())
'''


def _blocked(_):
    import sys

    return list(getattr(sys.modules.get("sitecustomize"), "BLOCKED", []))


def test_daemon_serves_pandas_udf_when_a_preload_import_fails(spark, tmp_path):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    (tmp_path / "sitecustomize.py").write_text(
        _BLOCK_PRELOAD.format(module=WORKER_DAEMON_MODULE, blocked="pyarrow")
    )
    # A changed worker environment starts a daemon of its own.
    env = spark.sparkContext.environment
    prev = env.get("PYTHONPATH")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(tmp_path), prev) if p)
    try:
        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        got = spark.range(0, 100, 1, 2).select(plus_one("id").alias("v"))
        values = sorted(r.v for r in got.collect())
        blocked = _in_worker(spark, _blocked)
    finally:
        if prev is None:
            del env["PYTHONPATH"]
        else:
            env["PYTHONPATH"] = prev
    assert "pyarrow" in blocked, "the daemon's preload was not blocked"
    assert values == list(range(1, 101))


def _main(sf_dir: str, stock: bool) -> None:
    from lakehouse_app_spark import get_spark, session
    from perfbench.procstat import MonotoneCpu

    if stock:
        session.WORKER_DAEMON_MODULE = "pyspark.daemon"
    load_all_queries()
    spark = get_spark(app_name="worker-daemon-sweep")
    print("daemon", spark.conf.get("spark.python.daemon.module"))
    cpu = MonotoneCpu()
    total_cpu = total_wall = 0.0
    used = 0
    for key in sorted(QUERIES):
        before = cpu.read()["pyworker"]
        t0 = time.perf_counter()
        QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_caches()
        wall = time.perf_counter() - t0
        worker_s = cpu.read()["pyworker"] - before
        total_cpu += worker_s
        total_wall += wall
        if worker_s > 0:
            used += 1
            print(f"{key:40s} worker_cpu_s {worker_s:7.2f}  wall_s {wall:7.2f}",
                  flush=True)
    print(f"{used} of {len(QUERIES)} keys used worker CPU; all keys: "
          f"worker_cpu_s {total_cpu:.2f}  wall_s {total_wall:.1f}")
    spark.stop()


if __name__ == "__main__":
    _main(sys.argv[1], "--stock" in sys.argv[2:])
