"""Build-once derived-table layouts — the ingest-time index story.

SCALE.md's 100 TB claim is that expensive derived columns (IVF
cluster ids, MinHash band keys, SemDeDup block ids) are computed ONCE
at ingest and stored as table LAYOUT — a partition column the query
planner prunes on — so every downstream probe/dedup query is an
equi-join or partition-pruned scan instead of a full recompute. The
reference gets this for free from its server-side vector index
(`app/vector_search.py:24-27`: the index is built before any query
runs); here the index IS the table layout.

This module makes that concrete: :func:`derived_table` materializes a
derived DataFrame under the warehouse layout catalog exactly once per
(corpus fingerprint, name) using sinks.py's manifest-last snapshot
commit, and hands back reads of the stored table. Because the commit
is durable and fingerprint-keyed, a FRESH process (or a second
SparkSession) reuses the ingest artifact instead of rebuilding —
exactly a catalog table on a real cluster — while a regenerated
corpus (different file sizes/mtimes) fingerprints to a new directory
and triggers a clean rebuild rather than serving stale indexes.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading as _threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Durable catalog root: env-overridable; defaults to the repo's
# gitignored spark-warehouse/ so layouts survive process restarts.
_DEFAULT_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
    "layouts",
)


def layout_base() -> str:
    return os.environ.get("SPARK_GRAFT_LAYOUT_DIR", _DEFAULT_BASE)


# fingerprinted table dir -> committed data path. The memo key
# embeds the corpus fingerprint, so an in-process corpus
# regeneration (or a gc sweep of the old fingerprint) can never
# serve a stale or deleted path — re-fingerprinting costs a handful
# of stat calls per lookup, which is what makes the staleness
# guarantee hold. The durable commit under layout_base() is what a
# fresh process reuses.
_BUILT: dict[str, str] = {}

# fingerprinted table dir -> analyzed DataFrame handle for the
# CURRENT session (validated against the caller's session on every
# hit; content staleness is impossible because the key already embeds
# the corpus fingerprint).
_HANDLES: dict = {}


def corpus_fingerprint(sf_dir: str) -> str:
    """Content-version tag for a corpus directory: (name, size,
    mtime_ns) of every parquet file under it. A regenerated corpus
    gets a new fingerprint, so stale layouts are never read — the
    moral equivalent of a table's snapshot id in the catalog."""
    items = []
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            p = os.path.join(sf_dir, f)
            if os.path.isdir(p):  # multi-file parquet table
                st = []
                for g in sorted(os.listdir(p)):
                    if g.startswith(("_", ".")):
                        continue
                    gs = os.stat(os.path.join(p, g))
                    # mtime included: same-size regenerated files must
                    # still change the fingerprint (review r6)
                    st.append((g, gs.st_size, gs.st_mtime_ns))
                items.append((f, str(st), 0))
            else:
                s = os.stat(p)
                items.append((f, s.st_size, s.st_mtime_ns))
    digest = hashlib.sha256(repr(items).encode()).hexdigest()[:12]
    return f"{os.path.basename(os.path.normpath(sf_dir))}-{digest}"


def _table_dir(name: str, sf_dir: str) -> str:
    return os.path.join(layout_base(), corpus_fingerprint(sf_dir), name)


def _committed_version(tdir: str) -> int | None:
    """Latest manifest-committed version under ``tdir`` (None if no
    committed snapshot exists). Mirrors sinks.read_snapshot: data
    without a manifest is an invisible half-commit."""
    try:
        versions = [
            int(f[2:-5])
            for f in os.listdir(tdir)
            if f.startswith("_v") and f.endswith(".json")
        ]
    except FileNotFoundError:
        return None
    return max(versions) if versions else None


def derived_table(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Read the derived table ``name`` for ``sf_dir``, building and
    committing it first if no process ever has — the durable
    stand-in for an ingest-time pipeline stage.

    Commit protocol is manifest-last (data lands in ``v=<n>/``, the
    ``_v<n>.json`` manifest is written only after the write
    succeeds), so a crashed or concurrent builder can leave garbage
    data files but never a readable half-commit; a concurrent loser
    whose ``v=<n>`` write collides simply re-reads the winner's
    commit."""
    tdir = _table_dir(name, sf_dir)
    hit = _BUILT.get(tdir)
    if hit is not None:
        # serve the memoized ANALYZED frame when it belongs to this
        # session: a committed layout is immutable (new content ⇒ new
        # fingerprint ⇒ new tdir), so re-running spark.read.parquet —
        # file listing + footer schema discovery, ~0.1-0.2 s — per
        # handle was pure catalog overhead repeated by every query
        # touching a stored index (round-8 bench audit)
        df = _HANDLES.get(tdir)
        if df is not None and df.sparkSession is spark:
            return df
        df = spark.read.parquet(hit)
        _HANDLES[tdir] = df
        return df

    ver = _committed_version(tdir)
    if ver is None:
        ver = _commit_build(tdir, sf_dir, build, partition_by)
    data_dir = os.path.join(tdir, f"v={ver}")
    _BUILT[tdir] = data_dir
    df = spark.read.parquet(data_dir)
    _HANDLES[tdir] = df
    return df


def _commit_build(
    tdir: str,
    sf_dir: str,
    build: Callable[[], DataFrame],
    partition_by: list[str] | None,
) -> int:
    os.makedirs(tdir, exist_ok=True)
    # Two-phase commit with an ATOMIC claim (review r6: the old
    # scheme's list-then-errorifexists was check-then-act — two
    # concurrent builders could interleave part files into the same
    # v=N in the race window). Phase 1 writes into a uniquely-named
    # staging dir (no coordination needed); phase 2 claims v=N via
    # os.rename, which the filesystem makes atomic: exactly one
    # process lands each version, a collided claimant retries under
    # the next free slot with its already-built data, and readers
    # still trust only manifest-last commits.
    import uuid as _uuid

    staging = os.path.join(
        tdir, f"_staging-{os.getpid()}-{_uuid.uuid4().hex[:8]}"
    )
    try:
        w = build().write.mode("errorifexists").format("parquet")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(staging)
    except Exception:
        import shutil
        import time

        shutil.rmtree(staging, ignore_errors=True)
        # the build itself failed — if a concurrent winner is mid-
        # commit, poll briefly for its manifest before giving up
        for _ in range(60):
            committed = _committed_version(tdir)
            if committed is not None:
                return committed
            time.sleep(0.5)
        raise
    version = None
    for _ in range(1000):  # bound: pathological claim storms error out
        used = [
            int(f.split("=", 1)[1])
            for f in os.listdir(tdir)
            if f.startswith("v=") and f.split("=", 1)[1].isdigit()
        ] + [
            int(f[2:-5])
            for f in os.listdir(tdir)
            if f.startswith("_v") and f.endswith(".json")
        ]
        candidate = max(used, default=-1) + 1
        data_dir = os.path.join(tdir, f"v={candidate}")
        try:
            os.rename(staging, data_dir)
            version = candidate
            break
        except OSError:
            if not os.path.exists(data_dir):
                raise  # rename failed for a non-race reason
            continue  # lost the slot; retry under the next version
    if version is None:
        raise RuntimeError(f"could not claim a layout version under {tdir}")
    manifest = {
        "version": version,
        "note": "derived-table layout",
        "rows": None,
        "format": "parquet",
        "partition_by": partition_by or [],
    }
    with open(os.path.join(tdir, f"_v{version}.json"), "w") as fh:
        fh.write(json.dumps(manifest))
    # corpus marker: records which source directory this fingerprint
    # belongs to, so gc_layouts never sweeps a same-basename sibling
    # corpus sharing the catalog (review r6)
    marker = os.path.join(os.path.dirname(tdir), "_corpus.json")
    if not os.path.exists(marker):
        with open(marker, "w") as fh:
            fh.write(json.dumps({"sf_dir": os.path.abspath(sf_dir)}))
    return version


# (session, sf_dir, corpus fingerprint, tag) -> computed scalar.
# ONE copy of the corpus-anchored-scalar recipe (review r11; was
# duplicated as _COMPACT_LO_CACHE in lake_ops and _DPP_YEAR_CACHE in
# joins): the key embeds the corpus CONTENT fingerprint, so an
# in-session regeneration re-derives the anchor instead of serving a
# stale one, while repeat invocations on the same corpus skip the
# scan. Values are tiny (a date, an int); the dict is bounded by
# (sessions × corpora × tags) in practice.
_CORPUS_SCALARS: dict = {}
# streaming queries acquire corpus scalars from listener threads too
# (same threading reality as runtime_cache's scratch registry), so the
# memo is lock-guarded like _SCRATCH_LOCK — an unguarded check-then-set
# could run compute() twice concurrently (advice r11). RLock: compute()
# is allowed to resolve a DIFFERENT tag's scalar reentrantly.
_CORPUS_SCALARS_LOCK = _threading.RLock()


def corpus_scalar(spark: SparkSession, sf_dir: str, tag: str, compute):
    """Memoized corpus-anchored scalar (a bounded 1-row aggregate —
    the _probe_ids collect class): ``compute()`` runs once per
    (session, corpus content, tag) and its value is replayed for
    every later invocation on the same corpus."""
    from lakehouse_app_spark.runtime_cache import session_key

    ck = (session_key(spark), sf_dir, corpus_fingerprint(sf_dir), tag)
    with _CORPUS_SCALARS_LOCK:
        if ck not in _CORPUS_SCALARS:
            _CORPUS_SCALARS[ck] = compute()
        return _CORPUS_SCALARS[ck]


# corpus dirs verified/built this process (keys embed the fingerprint)
_PUBLISHED: set[str] = set()


def corpus_dir(name: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """Build-once DIRECTORY layout — the [[derived_table]] convention
    extended from one committed DataFrame to whatever tree ``build``
    writes: a whole sinks.py snapshot lineage (r13 verdict item 1: the
    CDC demo lineages are ingest-time artifacts, so the timed path
    measures the READS, not re-paid commits) or the staged files a
    bounded stream replays.

    ``build(root)`` writes into a STAGING root; ``os.rename`` then
    atomically claims the final fingerprinted directory, so the final
    dir exists only as a complete tree — readers see either nothing
    or the whole build, and a concurrent loser simply reads the
    winner's. Fingerprint-keyed like every layout: a regenerated
    corpus rebuilds from scratch (and gc_layouts sweeps the old
    one), a fresh process reuses the durable build. ``name`` spells
    out the recipe (``stream_vecs_m10r7``), so a recipe change lands
    in a new dir instead of serving a stale one. Returns the final
    directory path."""
    import shutil as _shutil
    import time as _time
    import uuid as _uuid

    tdir = _table_dir(name, sf_dir)
    if tdir in _PUBLISHED:
        return tdir
    if not os.path.isdir(tdir):
        parent = os.path.dirname(tdir)
        os.makedirs(parent, exist_ok=True)
        staging = f"{tdir}-staging-{os.getpid()}-{_uuid.uuid4().hex[:8]}"
        try:
            build(staging)
            try:
                os.rename(staging, tdir)
            except OSError:
                # lost the claim race: a complete winner must exist
                if not os.path.isdir(tdir):
                    raise
                _shutil.rmtree(staging, ignore_errors=True)
        except Exception:
            _shutil.rmtree(staging, ignore_errors=True)
            # the build itself failed — poll briefly for a concurrent
            # winner mid-build before giving up (same protocol as
            # _commit_build)
            for _ in range(60):
                if os.path.isdir(tdir):
                    break
                _time.sleep(0.5)
            else:
                raise
        marker = os.path.join(parent, "_corpus.json")
        if not os.path.exists(marker):
            with open(marker, "w") as fh:
                fh.write(json.dumps({"sf_dir": os.path.abspath(sf_dir)}))
    _PUBLISHED.add(tdir)
    return tdir


def layout_path(name: str, sf_dir: str) -> str | None:
    """Committed data path for a layout (None if never built). Unlike
    the pre-round-6 tempdir scheme this answers from the durable
    catalog, so it works in a process that never built the layout."""
    tdir = _table_dir(name, sf_dir)
    hit = _BUILT.get(tdir)
    if hit is not None:
        return hit
    ver = _committed_version(tdir)
    return None if ver is None else os.path.join(tdir, f"v={ver}")


def gc_layouts(sf_dir: str) -> list[str]:
    """Remove layout fingerprint directories for ``sf_dir``'s corpus
    whose fingerprint no longer matches the current corpus content —
    the catalog-maintenance half of the durable-layout story (a
    regenerated corpus orphans its old indexes; this sweeps them like
    ``expire_snapshots`` sweeps old table versions). A directory is
    swept only when its ``_corpus.json`` marker names THIS corpus
    path — a same-basename sibling corpus sharing the catalog is
    never touched (pre-marker dirs are likewise left alone).
    Returns the removed directory paths."""
    import shutil

    current = corpus_fingerprint(sf_dir)
    me = os.path.abspath(sf_dir)
    base = layout_base()
    removed = []
    try:
        entries = os.listdir(base)
    except FileNotFoundError:
        return removed
    for d in entries:
        if d == current:
            continue
        marker = os.path.join(base, d, "_corpus.json")
        try:
            with open(marker) as fh:
                owner = json.loads(fh.read()).get("sf_dir")
        except (FileNotFoundError, NotADirectoryError, ValueError):
            continue
        if owner == me:
            path = os.path.join(base, d)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed
