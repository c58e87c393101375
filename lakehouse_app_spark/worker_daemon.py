"""The engine's PySpark worker daemon (``spark.python.daemon.module``).

Spark starts one daemon per worker environment and forks a Python
worker from it for each task slot; with worker reuse on, a forked
worker then serves task after task. This module prepares the daemon
process once and hands over to the stock ``pyspark.daemon.manager()``,
so every worker it forks starts without three per-task costs.

1. Archives re-read on every task. ``pyspark.worker_util.
   setup_spark_files`` calls ``importlib.invalidate_caches()`` before
   every task, and CPython 3.11's ``zipimporter.invalidate_caches``
   re-reads the archive's whole central directory each time. A worker
   holds 16 zipimporters: 12 on ``pyspark.zip`` (1,328 entries, 2.6 ms
   a read), 2 on the py4j zip and 2 on the Spark core jar that Spark
   puts on the worker path (5,359 entries, 12.2 ms a read, no ``.py``
   file in it). Together that is about 56 ms of CPU per task. Here the
   re-read is stat-guarded: an archive is read again only when its
   ``(st_ino, st_size, st_mtime_ns)`` changed since this process last
   read it; when the stat fails, the stock method runs.
2. A full ``gc.collect()`` after every task. The daemon's reuse loop
   collects after each task, and in a warm worker that walks the ~73k
   objects of the pandas and pyarrow module graphs (15 ms of CPU).
   Here those modules are imported in the daemon, collected and moved
   to the permanent generation with ``gc.freeze()`` before any fork
   (CPython's documented pre-fork pattern), so the per-task collect
   walks only what the task allocated (0.01 ms on an idle worker).
3. The pandas/pyarrow import in every new worker, about 0.5 s of CPU:
   the preload in (2) happens once, in the daemon, and every fork
   inherits it. A module that fails to import is skipped; a worker
   imports it itself, as it would under the stock daemon.

Measured on ``q_media_frames`` at sf0.1 (one warm session, 10
operations, local[4] on 4 vCPUs, Spark 4.1.2, CPython 3.11.7):
Python-worker CPU per operation 1.11 s with the stock daemon, 0.25 s
with (1) alone, 0.03 s with (1)-(3); wall time per operation 0.54 s,
0.21 s, 0.19 s. The workers' summed PSS fell from 357 to 159 MB,
since the forks share the daemon's preloaded pages. A sweep of all
261 keys at sf0.01 used 26.0 s of worker CPU with the stock daemon
and 10.6 s with this one, 5.0 s of that in the two
transformWithState keys (see below): ``python
tests/test_worker_daemon.py <sf_dir> [--stock]`` prints it per key.

``session.get_spark`` selects this module with a builder conf; a
session handed in from outside (``entry(spark)``) keeps the stock
daemon — same results, more worker CPU.

Not covered: the transformWithStateInPandas driver-worker is a fresh
interpreter per query (StreamingPythonRunner -> createSimpleWorker,
no daemon) whose cold ``import pyspark`` from pyspark.zip costs
~0.95 s against ~0.55 s from the unzipped source tree (zipimport
cannot cache .pyc). Prepending $SPARK_HOME/python to the worker
PYTHONPATH via ``SparkContext.environment`` does NOT capture that
saving (round-8 negative result): the JVM puts sparkPythonPath (the
zips) ahead of the user PYTHONPATH at worker launch, so the zip still
wins resolution, while the env mutation re-keys the daemon pool and
forfeits warm workers (A/B: floor 1.94-2.01 s stock against
2.12-2.46 s injected). The ``tws_floor_sec`` instrument in bench.py
stays the honest decomposition.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

# Imported before the fork, frozen with everything the daemon holds.
PRELOAD = ("numpy", "pandas", "pyarrow", "pyspark.sql.pandas.serializers")

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key, directory) of this process's last read
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed on disk since this
    process last read it; otherwise the importer gets that read's
    directory back (the one every importer of the archive shares)."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate(self)
        return
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    last = _last_read.get(self.archive)
    if last is not None and last[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stock_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:  # the read succeeded
        _last_read[self.archive] = (key, self._files)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    from pyspark import daemon  # imports the worker module named in argv

    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:
            pass  # a worker imports it itself, as under the stock daemon
    importlib.invalidate_caches()  # record every open archive before the fork
    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
