"""Batch sinks. Parquet-first (delta-spark is not installed in this
environment); the format switch is where Delta/Iceberg would plug in
at deployment time (SURVEY.md §7.6).

Scale notes: writers take explicit partition columns (date-style
partitioning prunes at read time) and an optional bucket spec —
bucketing co-locates join keys so repeated large joins skip the
shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_app_spark.session import scoped_confs


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: co-locates `bucket_col` so equi-joins
    and aggregations on it become shuffle-free (100 TB path for
    lineitem/orders on orderkey — SURVEY.md §7.6).

    A FRESH session's in-memory catalog doesn't know about tables a
    previous process left in the warehouse dir, and saveAsTable then
    fails with LOCATION_ALREADY_EXISTS even in overwrite mode — so
    any stale location for this (to this catalog, new) table is
    cleared first. This is the in-memory-catalog analogue of a Hive
    metastore drop-and-recreate."""
    import os as _os
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    spark = df.sparkSession
    if mode == "overwrite":
        # destructive preamble is overwrite-only: append must never
        # drop the existing table/location it is appending to
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir"))
        loc = _os.path.join(wh.path or wh.netloc, table_name.lower())
        _shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.format(fmt)
        .mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


def compact_table(
    spark: SparkSession,
    src: str,
    dst: str,
    target_files: int,
    sort_col: str | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Small-file compaction (the OSS stand-in for Delta OPTIMIZE,
    SURVEY.md §7.6): rewrite a fragmented table into ``target_files``
    outputs, optionally range-sorted on ``sort_col``.

    Range sorting is the Z-order-lite lever: parquet min/max footer
    stats on the sort column become disjoint across files, so
    predicate pushdown skips whole files on that column. Streaming
    ingest at 100 TB produces thousands of small files per partition;
    this job is the scheduled maintenance pass that keeps scans fast.
    Writes to ``dst`` (never in place — the swap is the caller's
    atomic rename/metastore update).
    """
    df = spark.read.format(fmt).load(src)
    if sort_col is not None:
        df = df.repartitionByRange(target_files, sort_col)
    else:
        df = df.coalesce(target_files)
    df.write.format(fmt).mode("overwrite").save(dst)
    return spark.read.format(fmt).load(dst)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions
    present in ``df``, leaving sibling partitions untouched — the
    idempotent daily-reload primitive (INSERT OVERWRITE ... PARTITION
    semantics). Static overwrite mode would truncate the whole table;
    dynamic mode scopes the delete to partitions the job actually
    produced, so a one-day backfill over a 5-year table rewrites
    1/1800th of the data."""
    confs = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    with scoped_confs(df.sparkSession, confs):
        df.write.format(fmt).mode("overwrite").partitionBy(*partition_by).save(path)


def zorder_key(x, y, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative int columns —
    the multi-dimensional clustering key. Sorting a table by this key
    before writing gives range-localized files in BOTH dimensions, so
    min/max file statistics prune selective predicates on either
    column (the Delta OPTIMIZE ZORDER layout, as a plain expression).
    Pure bit arithmetic: shifts/masks only, no UDF."""
    from pyspark.sql import functions as F

    # bigint domain: with int32 inputs, y's bit (bits-1) would shift
    # to position 2*bits-1 = the int32 sign bit at the default 16,
    # flipping keys negative and destroying range locality
    xx = (F.col(x) if isinstance(x, str) else x).cast("bigint")
    yy = (F.col(y) if isinstance(y, str) else y).cast("bigint")
    parts = []
    for b in range(bits):
        parts.append(
            F.shiftleft(F.shiftright(xx, b).bitwiseAND(F.lit(1)), 2 * b)
        )
        parts.append(
            F.shiftleft(F.shiftright(yy, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out


# ------------------------------------------------------------ time travel


def write_snapshot(
    df: DataFrame, path: str, note: str = "", fmt: str = "parquet"
) -> int:
    """Append an immutable versioned snapshot of ``df`` under
    ``path`` and return the new version number.

    A minimal Delta/Iceberg-style commit protocol over a pluggable
    file format (delta-spark/iceberg don't ship in this environment;
    the storage layer stays behind these helpers so a real table
    format can slot in): data lands in ``v=<n>/`` first, then a
    one-line manifest ``_v<n>.json`` is written LAST — readers only
    trust versions with a manifest, so a crashed writer leaves
    garbage data files but never a readable half-commit (the
    manifest write is the atomic commit point, exactly Delta's
    `_delta_log` trick). The manifest records ``fmt``, so one table's
    history may mix formats and time travel still resolves each
    version's codec — proving the format switch is a real seam, not
    a dead parameter (tests/test_sources.py pins parquet↔ORC parity).
    Each snapshot is a full copy (simplest correct semantics; an
    incremental layout would store deltas + compaction like
    [[compact_table]]).
    """
    import json as _json
    import os as _os

    _os.makedirs(path, exist_ok=True)
    version = 1 + max(
        (
            int(f[2:-5])
            for f in _os.listdir(path)
            if f.startswith("_v") and f.endswith(".json")
        ),
        default=-1,
    )
    data_dir = _os.path.join(path, f"v={version}")
    df.write.mode("errorifexists").format(fmt).save(data_dir)
    manifest = {"version": version, "note": note, "rows": None, "format": fmt}
    with open(_os.path.join(path, f"_v{version}.json"), "w") as fh:
        fh.write(_json.dumps(manifest))
    return version


# (realpath, resolved version, manifest identity, fmt, dv chain,
# dv key) -> analyzed relation for read_snapshot. Committed version
# directories are immutable, so the handle is content-stable;
# expiry/commit checks stay live in read_snapshot (see its comment).
# Validated against the calling session on every hit. The manifest's
# (st_ino, st_mtime_ns) rides in the key so a lineage wiped and
# re-committed at the same path misses the memo instead of being
# served a stale file listing (advice r14). LRU-bounded: scratch
# CLONES (q_vacuum/q_merge_multi mkdtemp trees) insert a fresh key
# per invocation, so an unbounded dict pinned dead JVM plans for the
# whole session (advice r14); past the bound, dead-session entries
# are swept first, then the least-recently-used live ones.
_READ_HANDLES: dict = {}
_READ_HANDLES_MAX = 128


def _read_manifest(path: str, version: int) -> dict:
    import json as _json
    import os as _os

    with open(_os.path.join(path, f"_v{version}.json")) as fh:
        return _json.loads(fh.read())


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the given committed version, or the latest
    one when ``version`` is None. Uncommitted ``v=*`` directories
    (no manifest) are invisible. The data format comes from the
    version's own manifest (pre-format manifests default to
    parquet), so mixed-format histories read transparently.

    MERGE-ON-READ resolution: a version committed by
    [[delete_where_mor]] carries no data directory — its manifest
    references a ``base`` version plus a deletion-vector sidecar
    (``dv=<n>/``, the deleted keys). The read walks the base chain
    to the nearest materialized version, unions the chain's DVs, and
    applies ONE broadcast anti-join — so every consumer built on
    this function (time travel, [[change_feed]], [[restore_version]],
    MERGE) sees identical semantics for COW and MOR commits."""
    import os as _os

    from pyspark.sql import functions as F

    committed = sorted(
        int(f[2:-5])
        for f in _os.listdir(path)
        if f.startswith("_v") and f.endswith(".json")
    )
    if not committed:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if version is None:
        version = committed[-1]
    if version not in committed:
        raise FileNotFoundError(f"version {version} not committed in {path}")
    dv_dirs: list[str] = []
    dv_key = None
    man = _read_manifest(path, version)
    v = version
    while man.get("base") is not None:
        dv_dirs.append(_os.path.join(path, f"dv={v}"))
        if dv_key is None:
            dv_key = man["dv_key"]
        elif man["dv_key"] != dv_key:
            raise ValueError(
                f"mixed dv_key along base chain of v{version} in {path}"
            )
        v = man["base"]
        man = _read_manifest(path, v)
    fmt = man.get("format", "parquet")
    # Memoized relation handle (r14 optimization): a committed
    # version's data directory is immutable, so re-running
    # spark.read per call re-paid file listing + parquet footer
    # schema inference for every time-travel read in every rep —
    # the CDC/MOR keys read 3-5 versions of the same lineage per
    # execution. Everything that can change — which versions are
    # committed (expiry!), the manifest base chain — is still
    # re-checked above on every call from the driver-side listing,
    # so an expired version raises exactly as before; only the
    # immutable relation is served from the memo, validated against
    # the caller's session.
    st = _os.stat(_os.path.join(path, f"_v{v}.json"))
    key = (
        _os.path.realpath(path), v, st.st_ino, st.st_mtime_ns, fmt,
        tuple(dv_dirs), dv_key,
    )
    hit = _READ_HANDLES.get(key)
    if hit is not None and hit.sparkSession is spark:
        # refresh recency (dict preserves insertion order = LRU order)
        _READ_HANDLES.pop(key)
        _READ_HANDLES[key] = hit
        return hit
    df = spark.read.format(fmt).load(_os.path.join(path, f"v={v}"))
    if dv_dirs:
        dv = spark.read.parquet(*dv_dirs).select(dv_key).distinct()
        df = df.join(F.broadcast(dv), on=dv_key, how="left_anti")
    _READ_HANDLES[key] = df
    if len(_READ_HANDLES) > _READ_HANDLES_MAX:
        stale = [
            k for k, h in _READ_HANDLES.items()
            if h.sparkSession is not spark
        ]
        for k in stale:
            _READ_HANDLES.pop(k, None)
        while len(_READ_HANDLES) > _READ_HANDLES_MAX:
            _READ_HANDLES.pop(next(iter(_READ_HANDLES)))
    return df


def expire_snapshots(
    path: str, keep_last: int = 2, orphan_grace_sec: float = 3600.0
) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` committed
    versions — Delta `VACUUM` / Iceberg `expireSnapshots` in
    miniature. The manifest is deleted FIRST (the version becomes
    invisible at that instant — the inverse of the manifest-last
    commit), then the data directory; a crash in between leaves only
    unreferenced data files, never a readable half-deleted version.
    Also sweeps orphaned ``v=*`` directories with no manifest — but
    only ones older than ``orphan_grace_sec`` (mtime check), because
    write_snapshot writes data first and the manifest last: a
    manifest-less directory younger than the grace window may be an
    in-flight concurrent commit whose manifest hasn't landed yet
    (the same retention-vs-writer race Delta's VACUUM guards with its
    default 7-day horizon). REACHABILITY RULE (Iceberg's): a version
    referenced by a surviving version's merge-on-read base chain is
    NOT expired even when it falls outside ``keep_last`` — deleting a
    DV commit's base would break the live head; run
    [[apply_deletion_vectors]] first to materialize the head, after
    which the pinned ancestors expire normally. Named refs pin the
    same way: a version a tag or branch points at (and ITS base
    chain) survives until [[drop_ref]] releases it — Iceberg's
    `expireSnapshots` reachability over the refs map, the guarantee
    that makes a tag a durable training-run pin. Returns the expired
    version numbers."""
    import os as _os
    import shutil as _shutil
    import time as _time

    committed = sorted(
        int(f[2:-5])
        for f in _os.listdir(path)
        if f.startswith("_v") and f.endswith(".json")
    )
    survivors = set(committed[-keep_last:]) if keep_last > 0 else set()
    refs = _read_refs(path)
    survivors |= set(refs["tags"].values()) | set(refs["branches"].values())
    reachable: set[int] = set()
    for v in survivors:
        while v is not None and v not in reachable:
            reachable.add(v)
            v = _read_manifest(path, v).get("base")
    expired = [v for v in committed if v not in reachable]
    for v in expired:
        _os.remove(_os.path.join(path, f"_v{v}.json"))
        _shutil.rmtree(_os.path.join(path, f"v={v}"), ignore_errors=True)
        _shutil.rmtree(_os.path.join(path, f"dv={v}"), ignore_errors=True)
    live = {f"v={v}" for v in reachable}
    now = _time.time()
    for d in _os.listdir(path):
        if d.startswith("v=") and d not in live:
            full = _os.path.join(path, d)
            try:
                age = now - _os.path.getmtime(full)
            except OSError:
                continue
            if age >= orphan_grace_sec:
                _shutil.rmtree(full, ignore_errors=True)
    return expired


def snapshot_history(path: str) -> list[dict]:
    """The table's commit log, oldest first — `DESCRIBE HISTORY`."""
    import json as _json
    import os as _os

    out = []
    for f in sorted(
        (f for f in _os.listdir(path) if f.startswith("_v") and f.endswith(".json")),
        key=lambda f: int(f[2:-5]),
    ):
        with open(_os.path.join(path, f)) as fh:
            out.append(_json.loads(fh.read()))
    return out


# ------------------------------------------------- named refs (tags/branches)
#
# Iceberg's snapshot refs (`refs` map in table metadata: tags pin a
# snapshot immutably, branches are mutable heads) / Delta's
# cherry-picked analog. One `_refs.json` beside the version manifests,
# written atomically (write-then-rename, the manifest convention), so
# a reader never observes a torn refs file. In-process read-modify-
# write is serialized by a module lock; cross-process the last atomic
# rename wins — same single-writer-per-table assumption as
# write_snapshot's version claim.

import threading as _threading

_REFS_LOCK = _threading.Lock()


def _read_refs(path: str) -> dict:
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(path, "_refs.json")) as fh:
            refs = _json.loads(fh.read())
    except FileNotFoundError:
        refs = {}
    refs.setdefault("tags", {})
    refs.setdefault("branches", {})
    return refs


def _write_refs(path: str, refs: dict) -> None:
    import json as _json
    import os as _os

    _atomic_write_json(_os.path.join(path, "_refs.json"), _json.dumps(refs))


def _committed_versions(path: str) -> list[int]:
    import os as _os

    return sorted(
        int(f[2:-5])
        for f in _os.listdir(path)
        if f.startswith("_v") and f.endswith(".json")
    )


def create_tag(path: str, name: str, version: int | None = None) -> int:
    """Pin ``name`` to a committed ``version`` (latest when None) —
    Iceberg `createTag`. Tags are IMMUTABLE: re-tagging the same
    version is an idempotent no-op, any other version raises. A
    tagged version survives [[expire_snapshots]] regardless of
    ``keep_last`` — the reproducible-training-run pin (a run
    manifest that names a tag can always re-read its exact inputs)."""
    with _REFS_LOCK:
        committed = _committed_versions(path)
        if version is None:
            version = committed[-1]
        if version not in committed:
            raise ValueError(f"version {version} not committed in {path}")
        refs = _read_refs(path)
        prev = refs["tags"].get(name)
        if prev is not None:
            if prev != version:
                raise ValueError(
                    f"tag {name!r} already pins v{prev}; tags are immutable "
                    f"(drop_ref first to retag)"
                )
            return version
        refs["tags"][name] = version
        _write_refs(path, refs)
        return version


def create_branch(path: str, name: str, version: int | None = None) -> int:
    """Create mutable branch ``name`` at ``version`` (latest when
    None) — Iceberg `createBranch`. Re-creating an existing branch
    raises (use [[advance_branch]])."""
    with _REFS_LOCK:
        committed = _committed_versions(path)
        if version is None:
            version = committed[-1]
        if version not in committed:
            raise ValueError(f"version {version} not committed in {path}")
        refs = _read_refs(path)
        if name in refs["branches"]:
            raise ValueError(f"branch {name!r} already exists")
        refs["branches"][name] = version
        _write_refs(path, refs)
        return version


def advance_branch(path: str, name: str, version: int) -> int:
    """Fast-forward branch ``name`` to ``version`` — the PUBLISH act
    of write-audit-publish: staged commits are invisible to readers
    of the branch until this metadata-only pointer move. Versions are
    linear here, so fast-forward = target ≥ current (equal is an
    idempotent no-op); moving a branch backwards is a rollback, which
    [[restore_version]] expresses as a new commit instead — history
    is never rewritten."""
    with _REFS_LOCK:
        committed = _committed_versions(path)
        if version not in committed:
            raise ValueError(f"version {version} not committed in {path}")
        refs = _read_refs(path)
        cur = refs["branches"].get(name)
        if cur is None:
            raise KeyError(f"branch {name!r} does not exist in {path}")
        if version < cur:
            raise ValueError(
                f"branch {name!r} is at v{cur}; cannot fast-forward "
                f"backwards to v{version} (commit a RESTORE instead)"
            )
        if version != cur:
            refs["branches"][name] = version
            _write_refs(path, refs)
        return version


def drop_ref(path: str, name: str) -> None:
    """Remove a tag or branch; its target becomes expirable again."""
    with _REFS_LOCK:
        refs = _read_refs(path)
        if name in refs["tags"]:
            del refs["tags"][name]
        elif name in refs["branches"]:
            del refs["branches"][name]
        else:
            raise KeyError(f"no ref {name!r} in {path}")
        _write_refs(path, refs)


def resolve_ref(path: str, name: str) -> int:
    """Version a tag or branch points at (tags shadow branches on a
    name collision, matching Iceberg's ref-name uniqueness rule)."""
    refs = _read_refs(path)
    if name in refs["tags"]:
        return refs["tags"][name]
    if name in refs["branches"]:
        return refs["branches"][name]
    raise KeyError(f"no ref {name!r} in {path}")


def read_ref(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Time-travel read addressed by ref name — `VERSION AS OF` with
    a stable label instead of a number."""
    return read_snapshot(spark, path, resolve_ref(path, name))


def delete_where(spark: SparkSession, path: str, condition) -> int:
    """Copy-on-write DELETE: materialize the latest snapshot minus
    matching rows as a NEW version (the old version stays readable —
    time travel is the undo). This is exactly how Delta/Iceberg
    implement DELETE without a table format's file-level pruning:
    rewrite, then atomically commit via the manifest."""
    cur = read_snapshot(spark, path)
    return write_snapshot(cur.where(~condition), path, note="delete")


def update_where(spark: SparkSession, path: str, condition, assignments: dict) -> int:
    """Copy-on-write UPDATE: rewrite the latest snapshot with
    ``assignments`` (col -> Column expr) applied to matching rows."""
    from pyspark.sql import functions as F

    cur = read_snapshot(spark, path)
    for col, expr in assignments.items():
        cur = cur.withColumn(col, F.when(condition, expr).otherwise(F.col(col)))
    return write_snapshot(cur, path, note="update")


def delete_where_mor(
    spark: SparkSession, path: str, condition, key_col: str, note: str = "delete_mor"
) -> int:
    """MERGE-ON-READ DELETE — Delta deletion vectors / Iceberg
    equality deletes, the write-path alternative to
    [[delete_where]]'s copy-on-write rewrite: the commit stores only
    the DELETED KEYS as a deletion-vector sidecar (``dv=<n>/``) plus
    a manifest that references the previous head as ``base``; no data
    file is copied or rewritten. Write cost is O(deleted keys) — at
    100 TB a thousand-row delete commits KB instead of rewriting
    terabytes — and readers pay one broadcast anti-join
    ([[read_snapshot]] resolves the chain) until
    [[apply_deletion_vectors]] (OPTIMIZE's DV compaction) folds the
    chain into a materialized version. The manifest-last protocol is
    preserved: the DV parquet lands first, the manifest is the atomic
    commit point, so a crashed MOR delete leaves an invisible
    sidecar, never a readable half-commit. Matching is evaluated
    against the RESOLVED current head, so re-deleting an
    already-deleted key is a no-op, and ``key_col`` must identify
    rows uniquely (the [[change_feed]] key contract)."""
    import json as _json
    import os as _os

    committed = sorted(
        int(f[2:-5])
        for f in _os.listdir(path)
        if f.startswith("_v") and f.endswith(".json")
    )
    if not committed:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    head = committed[-1]
    head_man = _read_manifest(path, head)
    if head_man.get("base") is not None and head_man["dv_key"] != key_col:
        # fail at COMMIT time, not at the next read: a mixed-key DV
        # chain cannot be resolved by one anti-join
        raise ValueError(
            f"DV chain at {path} uses key {head_man['dv_key']!r}; "
            f"run apply_deletion_vectors before deleting by {key_col!r}"
        )
    cur = read_snapshot(spark, path, head)
    version = head + 1
    keys = cur.where(condition).select(key_col).distinct()
    # one part file always: a DV is O(deleted keys) by contract, and
    # an empty delete must still land a schema-bearing file so the
    # reader's parquet load never hits a data-less directory
    keys.coalesce(1).write.mode("errorifexists").parquet(
        _os.path.join(path, f"dv={version}")
    )
    manifest = {
        "version": version,
        "note": note,
        "rows": None,
        "format": _read_manifest(path, head).get("format", "parquet"),
        "base": head,
        "dv_key": key_col,
    }
    with open(_os.path.join(path, f"_v{version}.json"), "w") as fh:
        fh.write(_json.dumps(manifest))
    return version


def apply_deletion_vectors(
    spark: SparkSession, path: str, note: str = "optimize_dv"
) -> int:
    """OPTIMIZE's deletion-vector compaction: materialize the current
    head — base data minus the accumulated DV chain — as a normal
    copy-on-write snapshot, so subsequent reads stop paying the
    anti-join and [[expire_snapshots]] can finally reclaim the pinned
    base (a DV chain keeps its base version REACHABLE, exactly
    Iceberg's rule that expiry never deletes files referenced by a
    live snapshot). No-op (returns the head unchanged) when the head
    is already materialized. O(live rows) once, amortized across the
    MOR deletes it folds — Delta's `REORG TABLE ... APPLY (PURGE)`."""
    import os as _os

    committed = sorted(
        int(f[2:-5])
        for f in _os.listdir(path)
        if f.startswith("_v") and f.endswith(".json")
    )
    if not committed:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    head = committed[-1]
    man = _read_manifest(path, head)
    if man.get("base") is None:
        return head
    # preserve the chain's storage format for the materialized copy
    v = head
    while man.get("base") is not None:
        v = man["base"]
        man = _read_manifest(path, v)
    return write_snapshot(
        read_snapshot(spark, path, head),
        path,
        note=note,
        fmt=man.get("format", "parquet"),
    )


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    matched: list[tuple] = (),
    not_matched: list[tuple] = (),
    not_matched_by_source: list[tuple] = (),
    note: str = "merge",
) -> int:
    """Full multi-clause MERGE INTO on the snapshot layer — the Delta
    / Iceberg MERGE contract ([[merge_upsert]]'s 2-way coalesce form
    generalized, r13 verdict item 3), executed as ONE copy-on-write
    commit so the whole transaction lands under a single version and
    [[change_feed]] reports it as ONE commit_version.

    Clause lists mirror the SQL surface, evaluated IN ORDER (first
    satisfied clause wins, later clauses never see the row — Delta's
    documented semantics):

    - ``matched``: ``(cond, action, assignments)`` rows present in
      BOTH target and source; ``action`` is ``"update"`` (set
      ``assignments`` col → Column, unlisted columns keep the target
      value) or ``"delete"``. ``cond=None`` means always.
    - ``not_matched``: ``(cond, assignments)`` source-only rows →
      INSERT; ``assignments=None`` inserts the source row's columns
      by name (a source lacking a target column inserts NULL).
    - ``not_matched_by_source``: ``(cond, action, assignments)``
      target-only rows → ``"update"`` or ``"delete"``; an unmatched
      row no clause accepts is KEPT unchanged, exactly like SQL.

    Conditions and assignment expressions are Columns over the
    aliased join — reference target columns as ``F.col("t.x")`` and
    source columns as ``F.col("s.x")``. Source keys must be unique
    (the same per-key-image contract change_feed enforces; a dup
    source key would fan out its target row).

    Plan shape: ONE full-outer join on the key + per-column CASE
    chains + one commit — at 100 TB with both sides bucketed on the
    key the join is shuffle-free, and with a transactional format
    the rewrite touches only files holding matched keys; the clause
    logic is identical."""
    from pyspark.sql import functions as F

    matched = list(matched)
    not_matched = list(not_matched)
    not_matched_by_source = list(not_matched_by_source)
    target = read_snapshot(spark, path)
    out_cols = list(target.columns)
    t = target.withColumn("_t", F.lit(True)).alias("t")
    s = source.withColumn("_s", F.lit(True)).alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")

    def chain(clauses, default: str, tag: str):
        # first-satisfied-clause-wins: build the when-chain in reverse
        expr = F.lit(default)
        for idx in range(len(clauses) - 1, -1, -1):
            cond = clauses[idx][0]
            c = F.lit(True) if cond is None else cond
            expr = F.when(c, F.lit(f"{tag}{idx}")).otherwise(expr)
        return expr

    action = (
        F.when(
            F.col("_t").isNotNull() & F.col("_s").isNotNull(),
            chain(matched, "keep", "m"),
        )
        .when(F.col("_s").isNotNull(), chain(not_matched, "skip", "i"))
        .otherwise(chain(not_matched_by_source, "keep", "n"))
    )
    dead = {"skip"}
    dead |= {f"m{i}" for i, cl in enumerate(matched) if cl[1] == "delete"}
    dead |= {
        f"n{i}"
        for i, cl in enumerate(not_matched_by_source)
        if cl[1] == "delete"
    }
    rows = joined.withColumn("_act", action).where(~F.col("_act").isin(*dead))

    def out_col(c: str):
        expr = F.col(f"t.{c}")  # keep/default: the target value
        for i, (cond, act, asg) in enumerate(matched):
            if act == "update":
                val = (asg or {}).get(c, F.col(f"t.{c}"))
                expr = F.when(F.col("_act") == f"m{i}", val).otherwise(expr)
        for i, (cond, asg) in enumerate(not_matched):
            if asg is not None and c in asg:
                val = asg[c]
            elif c in source.columns:
                val = F.col(f"s.{c}")
            else:
                val = F.lit(None)
            expr = F.when(F.col("_act") == f"i{i}", val).otherwise(expr)
        for i, (cond, act, asg) in enumerate(not_matched_by_source):
            if act == "update":
                val = (asg or {}).get(c, F.col(f"t.{c}"))
                expr = F.when(F.col("_act") == f"n{i}", val).otherwise(expr)
        return expr.alias(c)

    return write_snapshot(
        rows.select([out_col(c) for c in out_cols]), path, note=note
    )


def write_snapshot_checked(df: DataFrame, path: str, checks: dict, note: str = "") -> int:
    """Write-time data-quality gate: each check is name -> boolean
    Column that must hold for EVERY row; any violation aborts the
    commit (no manifest is written, so the table is untouched —
    [[write_snapshot]]'s crashed-writer guarantee doubles as the
    rollback). One aggregate pass computes all violation counts
    before any data lands — the ingest-side deployment of
    q_dq_checks' audit."""
    from pyspark.sql import functions as F

    counts = df.agg(
        *[F.count_if(~c).alias(name) for name, c in checks.items()]
    ).collect()[0]
    bad = {n: counts[n] for n in checks if counts[n] > 0}
    if bad:
        raise ValueError(f"DQ gate failed, commit aborted: {bad}")
    return write_snapshot(df, path, note=note)


# ------------------------------------------------ stats-based file skipping


def _atomic_write_json(path: str, payload: str) -> None:
    """Write-then-rename so a concurrent reader never observes a
    truncated manifest and two concurrent writers leave one intact
    winner — write_snapshot's manifest-last convention applied to the
    stats sidecars (advice r13: a plain open(..., 'w') exposes a
    half-written JSON to readers in the write window)."""
    import os as _os
    import tempfile as _tempfile

    fd, tmp = _tempfile.mkstemp(
        dir=_os.path.dirname(path) or ".", prefix="._stats_tmp_"
    )
    try:
        with _os.fdopen(fd, "w") as fh:
            fh.write(payload)
        _os.replace(tmp, path)  # atomic on POSIX, same filesystem
    except BaseException:
        try:
            _os.unlink(tmp)
        except OSError:
            pass
        raise


def write_stats_manifest(
    spark: SparkSession, path: str, key_col: str, fmt: str = "parquet"
) -> dict:
    """Per-file (min, max) stats of ``key_col`` for the table at
    ``path``, written as ``_stats.json`` beside the data — the
    Delta/Iceberg data-skipping metadata made explicit. One grouped
    scan (``input_file_name``) computes every file's range; readers
    ([[read_stats_pruned]]) then skip whole files whose range cannot
    intersect a predicate, BEFORE Spark ever lists row groups. On a
    range-sorted layout ([[compact_table]] with ``sort_col``) the
    ranges are disjoint, so a point/range predicate touches
    O(selectivity) files."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    rows = (
        spark.read.format(fmt)
        .load(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min(key_col).alias("lo"), F.max(key_col).alias("hi"))
        .collect()
    )
    stats = {
        "key": key_col,
        "files": {r["file"]: [r["lo"], r["hi"]] for r in rows},
    }
    _atomic_write_json(
        _os.path.join(path, "_stats.json"), _json.dumps(stats, default=str)
    )
    return stats


def read_stats_pruned(
    spark: SparkSession, path: str, lo, hi, fmt: str = "parquet"
) -> DataFrame:
    """Read only the files of ``path`` whose stats range intersects
    [lo, hi] (closed interval) per the ``_stats.json`` manifest.
    File-granular: rows OUTSIDE the interval can still appear (a
    file straddling the bound is read whole), so callers keep the
    row-level predicate in the plan — the manifest prune only bounds
    I/O, exactly like Delta data skipping."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_stats.json")) as fh:
        stats = _json.loads(fh.read())
    # non-JSON-native stats (date/timestamp keys) were stored via
    # str(); compare bounds in the same domain — ISO-8601 strings
    # order like their values. (Decimal keys would not: keep those
    # out of the stats column or widen to double at write time.)
    # files whose key column is all NULL store [null, null] bounds —
    # no range evidence either way, so they are always read (and must
    # not drive the str-domain probe or the comparison, review r6)
    bounded = {
        f: b
        for f, b in stats["files"].items()
        if b[0] is not None and b[1] is not None
    }
    sample = next(iter(bounded.values()), None)
    if sample is not None and isinstance(sample[0], str):
        lo, hi = str(lo), str(hi)
    files = [
        f for f, (flo, fhi) in bounded.items() if not (fhi < lo or flo > hi)
    ] + [f for f in stats["files"] if f not in bounded]
    if not files:
        return spark.read.format(fmt).load(path).limit(0)
    return spark.read.format(fmt).load(files)


def write_stats_manifest_nd(
    spark: SparkSession, path: str, key_cols: list[str], fmt: str = "parquet"
) -> dict:
    """Multi-column per-file (min, max) stats for the table at
    ``path``, written as ``_stats_nd.json`` — the N-dimensional
    generalization of [[write_stats_manifest]] and the explicit form
    of Delta/Iceberg's per-column file statistics. One grouped scan
    computes every file's range in EVERY key column; the point of
    pairing this with a Z-ORDER clustered layout ([[zorder_key]]) is
    that the ranges come out tight in ALL dimensions simultaneously,
    so [[read_stats_pruned_nd]] can skip files on a conjunction of
    selective predicates — any single-dimension sort gives tight
    ranges in one column only.

    Beyond (min, max) the manifest carries, per file, the ROW COUNT
    and each key column's NULL COUNT (Iceberg's `record_count` /
    `null_value_counts`), which lets the reader skip files for
    IS NULL / IS NOT NULL predicates — a file whose null_count equals
    its row count has no value to offer an IS NOT NULL scan, and one
    with zero nulls nothing for IS NULL. Column TYPES are recorded so
    the reader compares stats in the right domain: JSON-native values
    round-trip as-is, date/timestamp/string stats compare as strings
    (ISO-8601 orders like its values), and any other non-native type
    (Decimal) is parsed back to a number instead of the lexicographic
    comparison that would prune '9' > '10' (advice r13)."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    df = spark.read.format(fmt).load(path)
    types = {c: df.schema[c].dataType.typeName() for c in key_cols}
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in key_cols:
        aggs.append(F.min(c).alias(f"_lo_{c}"))
        aggs.append(F.max(c).alias(f"_hi_{c}"))
        aggs.append(F.count_if(F.col(c).isNull()).alias(f"_nulls_{c}"))
    rows = (
        df.groupBy(F.input_file_name().alias("file")).agg(*aggs).collect()
    )
    stats = {
        "keys": list(key_cols),
        "types": types,
        "files": {
            r["file"]: {
                "rows": r["_rows"],
                "stats": {
                    c: [r[f"_lo_{c}"], r[f"_hi_{c}"], r[f"_nulls_{c}"]]
                    for c in key_cols
                },
            }
            for r in rows
        },
    }
    _atomic_write_json(
        _os.path.join(path, "_stats_nd.json"), _json.dumps(stats, default=str)
    )
    return stats


def read_stats_pruned_nd(
    spark: SparkSession,
    path: str,
    bounds: dict | None = None,
    fmt: str = "parquet",
    require_non_null: list[str] | None = None,
    require_null: list[str] | None = None,
) -> DataFrame:
    """Read only the files whose per-column stats ranges intersect
    EVERY [lo, hi] interval in ``bounds`` (col -> (lo, hi), closed)
    per the ``_stats_nd.json`` manifest — and, when the manifest
    carries null/row counts, additionally skip files that cannot
    satisfy ``require_non_null`` columns (every value NULL) or
    ``require_null`` columns (zero NULLs). File-granular like
    [[read_stats_pruned]]: straddling files are read whole, so
    callers keep the row-level predicates in the plan; the prune only
    bounds I/O. A file lacking evidence in ANY requested column
    (all-NULL bounds / absent counts in a pre-r14 manifest) is
    conservatively read.

    Stats domains: comparisons honor the manifest's recorded column
    type — string/date/timestamp stats compare as strings (ISO-8601
    orders like its values); a non-JSON-native NUMERIC stat (Decimal,
    serialized via str) is parsed back before comparing, never
    compared lexicographically (advice r13)."""
    import json as _json
    import os as _os

    bounds = bounds or {}
    with open(_os.path.join(path, "_stats_nd.json")) as fh:
        stats = _json.loads(fh.read())
    types = stats.get("types", {})
    wanted = list(bounds) + list(require_non_null or []) + list(
        require_null or []
    )
    missing = [c for c in wanted if c not in stats["keys"]]
    if missing:
        raise KeyError(f"no stats for columns {missing} in {path}")
    _STR_DOMAIN = {"string", "date", "timestamp", "timestamp_ntz", "varchar"}

    def _keep(entry: dict) -> bool:
        # pre-r14 manifests map file -> {col: [lo, hi]}; current ones
        # file -> {rows, stats: {col: [lo, hi, nulls]}}
        col_stats = entry["stats"] if "stats" in entry else entry
        rows = entry.get("rows") if "stats" in entry else None
        for c, (lo, hi) in bounds.items():
            b = col_stats[c]
            flo, fhi = b[0], b[1]
            if flo is None or fhi is None:
                continue  # no evidence in this dimension -> keep
            if isinstance(flo, str):
                t = types.get(c)
                if t is None or t in _STR_DOMAIN:
                    # genuinely string-ordered domain (or a pre-r14
                    # manifest with no type record: legacy behavior)
                    lo, hi = str(lo), str(hi)
                else:
                    # numeric stat serialized via default=str
                    flo, fhi, lo, hi = (
                        float(flo), float(fhi), float(lo), float(hi)
                    )
            if fhi < lo or flo > hi:
                return False
        for c in require_non_null or []:
            b = col_stats[c]
            nulls = b[2] if len(b) > 2 else None
            if nulls is not None and rows is not None and nulls >= rows:
                return False  # all NULL: IS NOT NULL can't match
        for c in require_null or []:
            b = col_stats[c]
            nulls = b[2] if len(b) > 2 else None
            if nulls is not None and nulls == 0:
                return False  # zero NULLs: IS NULL can't match
        return True

    files = [f for f, entry in stats["files"].items() if _keep(entry)]
    if not files:
        return spark.read.format(fmt).load(path).limit(0)
    return spark.read.format(fmt).load(files)


BLOOM_M_BITS = 4096  # bits per file bloom (64 bigint words)
BLOOM_K = 3  # hash functions per value


def write_bloom_manifest(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    fmt: str = "parquet",
) -> dict:
    """Per-file BLOOM FILTER sidecar for ``col`` — the point-lookup
    complement to [[write_stats_manifest_nd]]'s min/max + null
    counts, and the explicit form of Parquet/Delta bloom-filter data
    skipping. Min/max prunes RANGE predicates on clustered columns;
    a bloom prunes EQUALITY probes on columns the layout was NOT
    sorted by (where every file's min/max spans the whole domain and
    range stats are useless). One grouped scan per build: each row
    contributes k = {BLOOM_K} bit positions (xxhash64 with seeds
    0..k-1, mod m = {BLOOM_M_BITS}), OR-folded per file into 64-bit
    words by a single ``bit_or`` aggregate — no UDF, no second pass.
    The manifest records the column type so readers hash probe
    values in the same domain. No false negatives by construction;
    false-positive files are read (and the caller's row predicate
    keeps results exact) — the bloom only bounds I/O, exactly like
    the stats manifests."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    df = spark.read.format(fmt).load(path)
    ctype = df.schema[col].dataType.simpleString()
    n_words = m_bits // 64
    pos = [
        F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m_bits))
        for s in range(k)
    ]
    proj = df.select(
        F.input_file_name().alias("file"),
        *[p.alias(f"_p{s}") for s, p in enumerate(pos)],
    )
    word_aggs = []
    for w in range(n_words):
        contribs = " | ".join(
            f"(CASE WHEN (_p{s} >> 6) = {w} THEN "
            f"shiftleft(CAST(1 AS BIGINT), CAST((_p{s} & 63) AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for s in range(k)
        )
        word_aggs.append(F.expr(f"bit_or({contribs})").alias(f"w{w}"))
    rows = proj.groupBy("file").agg(*word_aggs).collect()
    manifest = {
        "col": col,
        "type": ctype,
        "m_bits": m_bits,
        "k": k,
        "files": {
            r["file"]: [r[f"w{w}"] or 0 for w in range(n_words)]
            for r in rows
        },
    }
    _atomic_write_json(
        _os.path.join(path, f"_bloom_{col}.json"), _json.dumps(manifest)
    )
    return manifest


def read_bloom_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
    fmt: str = "parquet",
) -> DataFrame:
    """Read only the files whose bloom sidecar CAN contain at least
    one of ``values`` (equality-probe semantics: a file is kept iff
    ALL k bits of SOME probe value are set). Probe bit positions are
    computed with the same engine hash (one tiny ``spark.range(1)``
    projection) in the manifest's recorded column type, so writer and
    reader can never drift. False-positive files are read whole —
    callers keep the row-level IN/= predicate in the plan; no false
    negatives by bloom construction."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    with open(_os.path.join(path, f"_bloom_{col}.json")) as fh:
        man = _json.loads(fh.read())
    m_bits, k, ctype = man["m_bits"], man["k"], man["type"]
    probe = spark.range(1).select(
        *[
            F.pmod(
                F.xxhash64(F.lit(v).cast(ctype), F.lit(s)), F.lit(m_bits)
            ).alias(f"p_{i}_{s}")
            for i, v in enumerate(values)
            for s in range(k)
        ]
    ).collect()[0]

    def may_contain(words: list, i: int) -> bool:
        for s in range(k):
            pos = probe[f"p_{i}_{s}"]
            if not words[pos >> 6] & (1 << (pos & 63)):
                return False
        return True

    files = [
        f
        for f, words in man["files"].items()
        if any(may_contain(words, i) for i in range(len(values)))
    ]
    if not files:
        return spark.read.format(fmt).load(path).limit(0)
    return spark.read.format(fmt).load(files)


def change_feed(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Change-data-feed PRODUCER over the snapshot layer: the change
    rows between two committed versions of the table at ``path`` —
    Delta CDF's `table_changes(..., v_from, v_to)` semantics on the
    homegrown COW lineage. For each commit v in (v_from, v_to], the
    per-key diff of v-1 vs v yields `insert` / `delete` rows and
    `update_preimage` + `update_postimage` PAIRS for keys whose
    payload changed (null-safe struct comparison), each stamped with
    `commit_version` = v. Because the snapshot layer is COW
    full-copies, the diff is recomputed per commit pair — with a
    transactional format the same rows fall out of the commit's own
    add/remove file actions; this helper is the read-side contract.

    Shape: ONE shuffle for the whole feed, not one join per commit —
    every version's rows enter a single union playing `old` at commit
    v+1 and `new` at commit v, and one hash aggregate on (key,
    commit) pairs the images (keys are unique per version, so
    null-skipping max() recovers the single image per role; payload
    columns must therefore be orderable). The uniqueness assumption
    is ENFORCED, not trusted: the same aggregate counts images per
    (key, commit, role) and the plan raises on >1 — a non-unique-key
    caller fails loudly instead of feeding a downstream CDF consumer
    arbitrary images (advice r13). A per-pair full-outer join
    would shuffle-sort both sides of every commit — 2(v_to - v_from)
    exchanges against this plan's one, the difference between
    O(commits) and O(1) shuffles when a CDF reader spans a day of
    commits at 100 TB."""
    from pyspark.sql import functions as F

    if v_from >= v_to:
        # documented (v_from, v_to] semantics: a degenerate range is
        # an EMPTY feed with the full output schema, not an
        # IndexError on frames[0] (advice r13)
        snap = read_snapshot(spark, path, v_from)
        return snap.select(
            key_col,
            *payload_cols,
            F.lit("").alias("change_type"),
            F.lit(0).alias("commit_version"),
        ).limit(0)

    frames = []
    for v in range(v_from, v_to + 1):
        snap = read_snapshot(spark, path, v).select(
            F.col(key_col).alias("_k"), F.struct(*payload_cols).alias("_p")
        )
        # a middle version plays BOTH roles — new at commit v, old at
        # commit v+1. Fan the roles out scan-locally (explode of a
        # 2-element literal array) instead of unioning the same
        # version's scan twice: the union form physically re-read
        # every middle version's files once per role (r14
        # optimization, guide §2.4 — one scan per version, the role
        # duplication happens after the read).
        roles = []
        if v > v_from:
            roles.append((v, "n"))
        if v < v_to:
            roles.append((v + 1, "o"))
        if len(roles) == 1:  # endpoint version: direct projection
            cv, role = roles[0]
            frames.append(
                snap.select(
                    "_k",
                    F.lit(cv).alias("commit_version"),
                    F.lit(role).alias("_role"),
                    "_p",
                )
            )
        else:
            frames.append(
                snap.select(
                    "_k",
                    F.explode(
                        F.array(
                            *[
                                F.struct(
                                    F.lit(cv).alias("commit_version"),
                                    F.lit(role).alias("_role"),
                                )
                                for cv, role in roles
                            ]
                        )
                    ).alias("_r"),
                    "_p",
                ).select(
                    "_k",
                    F.col("_r.commit_version").alias("commit_version"),
                    F.col("_r._role").alias("_role"),
                    "_p",
                )
            )
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    g = u.groupBy("_k", "commit_version").agg(
        F.max(F.when(F.col("_role") == "o", F.col("_p"))).alias("_op"),
        F.max(F.when(F.col("_role") == "n", F.col("_p"))).alias("_np"),
        F.count(F.when(F.col("_role") == "o", 1)).alias("_no"),
        F.count(F.when(F.col("_role") == "n", 1)).alias("_nn"),
    )
    # enforce the per-version key-uniqueness contract inside the same
    # aggregate (no extra pass): assert_true throws at execution time
    # on any key with >1 image per role, so a non-unique-key caller
    # cannot silently receive arbitrary max()-selected images
    g = g.where(
        F.assert_true(
            (F.col("_no") <= 1) & (F.col("_nn") <= 1),
            F.concat(
                F.lit(f"change_feed: key column '{key_col}' is not "
                      "unique within a version at key="),
                F.col("_k").cast("string"),
            ),
        ).isNull()
    )
    chg = (
        F.when(
            F.col("_op").isNull(),
            F.array(
                F.struct(
                    F.col("_np").alias("p"), F.lit("insert").alias("change_type")
                )
            ),
        )
        .when(
            F.col("_np").isNull(),
            F.array(
                F.struct(
                    F.col("_op").alias("p"), F.lit("delete").alias("change_type")
                )
            ),
        )
        .when(
            ~F.col("_op").eqNullSafe(F.col("_np")),
            F.array(
                F.struct(
                    F.col("_op").alias("p"),
                    F.lit("update_preimage").alias("change_type"),
                ),
                F.struct(
                    F.col("_np").alias("p"),
                    F.lit("update_postimage").alias("change_type"),
                ),
            ),
        )
        .otherwise(F.array())  # unchanged key: no feed row
    )
    return (
        g.select("_k", "commit_version", F.explode(chg).alias("_c"))
        .select(
            F.col("_k").alias(key_col),
            *[F.col(f"_c.p.{c}").alias(c) for c in payload_cols],
            F.col("_c.change_type").alias("change_type"),
            "commit_version",
        )
    )


def restore_version(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE TO VERSION AS OF — Delta's non-destructive
    rollback: re-commit the target version's content as a NEW head
    version (history stays intact; the bad commits remain readable
    for audit and the restore itself is an auditable commit). One
    read + one write; with a transactional format this is a
    metadata-only operation re-pointing at the old files."""
    cur = read_snapshot(spark, path, version)
    return write_snapshot(cur, path, note=f"restore v{version}")
