"""Driver-contract smoke tests for __spark_entry__."""

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_entry_contract(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 3
    cols = set(df.columns)
    assert {"doc_id", "source", "snippet", "sim"} <= cols
    for r in rows:
        assert r["snippet"].endswith("...")


def test_every_query_has_callable_and_oracle_keys_subset(spark):
    mod = importlib.import_module("__spark_entry__")
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_prepared_plan_cache_honesty_guard(spark, sf_dir):
    """The registry's prepared-plan cache may replay ONLY pure plan
    construction: a builder that schedules jobs at build time
    (streaming replay, layout build, write round-trip) must re-run
    end-to-end on every call. Pin both sides of the guard."""
    from lakehouse_app_spark import runtime_cache as rc
    from lakehouse_app_spark.registry import QUERIES

    # pure plan builder → second call returns the cached DataFrame
    a = QUERIES["q_project"](spark, sf_dir)
    b = QUERIES["q_project"](spark, sf_dir)
    assert a is b
    assert ("q_project" in {k[2] for k in rc._PLANS})

    # a cached plan stays executable after release_caches()
    rc.release_caches()
    assert QUERIES["q_project"](spark, sf_dir).count() > 0

    # impure builder (runs the stream during build) → never cached,
    # fresh result table per call
    c = QUERIES["q_stream_tumbling"](spark, sf_dir)
    d = QUERIES["q_stream_tumbling"](spark, sf_dir)
    assert c is not d
    assert "q_stream_tumbling" not in {k[2] for k in rc._PLANS}


def test_prepared_plan_rejects_fake_job_scheduling_builder(spark, sf_dir):
    """Verdict-r5 item 7: a synthetic builder that schedules a Spark
    job during construction must get a cache MISS on every call —
    the guard cannot depend on which real queries happen to be
    impure."""
    from lakehouse_app_spark import runtime_cache as rc

    calls = []

    def impure(s, d):
        df = s.range(5)
        df.count()  # schedules a job during "plan construction"
        calls.append(1)
        return df

    a = rc.prepared_plan("__fake_impure__", impure, spark, sf_dir)
    b = rc.prepared_plan("__fake_impure__", impure, spark, sf_dir)
    assert len(calls) == 2 and a is not b
    assert "__fake_impure__" not in {k[2] for k in rc._PLANS}

    def pure(s, d):
        calls.append(1)
        return s.range(5)

    c = rc.prepared_plan("__fake_pure__", pure, spark, sf_dir)
    d = rc.prepared_plan("__fake_pure__", pure, spark, sf_dir)
    assert c is d
    rc._PLANS.pop((rc.session_key(spark), sf_dir, "__fake_pure__"), None)


def test_session_key_stable_and_not_address_based(spark):
    """Plan/stream caches key on (applicationId, startTime), not
    id(spark), so a recycled heap address can never replay plans
    bound to a dead session's JVM objects."""
    from lakehouse_app_spark.runtime_cache import session_key

    k1, k2 = session_key(spark), session_key(spark)
    assert k1 == k2 and k1 != id(spark)
    assert k1[0] == spark.sparkContext.applicationId


def test_plan_cache_repersists_scoped_intermediates_on_hit(spark, sf_dir):
    """A cached plan whose builder scoped-persisted a shared
    intermediate must re-pin that intermediate on cache hits after
    release_caches() — otherwise every consumer recomputes it and
    the single-pass design silently degrades on repeat runs."""
    from lakehouse_app_spark import runtime_cache as rc

    def builder(s, d):
        shared = rc.scoped_persist(s.range(100).selectExpr("id", "id*2 AS v"))
        return shared.groupBy().sum("v")

    a = rc.prepared_plan("__fake_shared__", builder, spark, sf_dir)
    key = (rc.session_key(spark), sf_dir, "__fake_shared__")
    (shared_df,) = rc._PLAN_SCOPED[key]
    assert shared_df.storageLevel.useMemory
    rc.release_caches()
    assert not shared_df.storageLevel.useMemory
    b = rc.prepared_plan("__fake_shared__", builder, spark, sf_dir)
    assert b is a
    assert shared_df.storageLevel.useMemory  # re-pinned on hit
    rc.release_caches()
    rc._PLANS.pop(key, None)
    rc._PLAN_SCOPED.pop(key, None)


def test_scratch_commit_dir_defers_cleanup():
    """Superseded scratch dirs are RETIRED, not deleted, when the
    next invocation's dir is created — a lazily-evaluated DataFrame
    built by the earlier invocation may still read the old tree
    (r9 ADVICE) — and are physically reaped only at the next
    release_caches(), the harness drain point. Distinct prefixes
    don't interfere."""
    import os

    from lakehouse_app_spark.runtime_cache import (
        release_caches,
        scratch_commit_dir,
    )

    release_caches()  # drain any dirs retired by earlier tests
    a1 = scratch_commit_dir("sc_test_a_")
    b1 = scratch_commit_dir("sc_test_b_")
    assert os.path.isdir(a1) and os.path.isdir(b1)
    a2 = scratch_commit_dir("sc_test_a_")
    assert os.path.isdir(a2) and a2 != a1
    # previous tree still readable until the drain point ...
    assert os.path.isdir(a1)
    release_caches()
    # ... and reaped there; the live dirs survive
    assert not os.path.exists(a1)
    assert os.path.isdir(a2) and os.path.isdir(b1)
    # cleanup for the test itself: retire + drain
    scratch_commit_dir("sc_test_a_")
    scratch_commit_dir("sc_test_b_")
    release_caches()


def test_scratch_retired_list_is_bounded():
    """A drain-free loop (a caller that never hits release_caches)
    must not accumulate retired trees without bound: past
    _RETIRED_BOUND, acquisition reaps everything but the newest
    retired tree per prefix (advice r10)."""
    import os

    from lakehouse_app_spark import runtime_cache as rc

    rc.release_caches()
    dirs = [rc.scratch_commit_dir("sc_bound_") for _ in range(rc._RETIRED_BOUND + 5)]
    with rc._SCRATCH_LOCK:
        n_retired = len(rc._RETIRED_SCRATCH)
    assert n_retired <= rc._RETIRED_BOUND
    # the newest retired tree (previous generation) must survive the
    # reap — an earlier invocation's lazy DataFrame may still read it
    assert os.path.isdir(dirs[-2]) and os.path.isdir(dirs[-1])
    # everything two-plus generations old is gone
    assert not os.path.exists(dirs[0])
    rc.scratch_commit_dir("sc_bound_")
    rc.release_caches()


def test_scratch_dirs_come_from_one_place():
    """A bare tempfile.mkdtemp is a scratch dir nothing removes. The
    package creates them in exactly three places: the deferred-cleanup
    scratch_commit_dir, the self-removing replay checkpoint and the
    session's warehouse dir. Stream sources stage in the layout
    catalog (layout.corpus_dir), never in the temp dir."""
    import ast

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "lakehouse_app_spark",
    )
    allowed = {
        ("runtime_cache.py", "scratch_commit_dir"),
        ("streaming/stream_queries.py", "_replay_scope"),
        ("session.py", "get_spark"),
    }
    found = set()

    def scan(rel, node, fn):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and ast.unparse(child.func) == "tempfile.mkdtemp"
            ):
                found.add((rel, fn))
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(rel, child, child.name)
            else:
                scan(rel, child, fn)

    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                scan(os.path.relpath(path, root), tree, "<module>")
    assert found == allowed
