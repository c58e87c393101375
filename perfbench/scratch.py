"""Scratch entries a run leaves behind.

The engine puts stream checkpoints and snapshot-commit scratch under
``/dev/shm`` when it exists, and derived-table layouts under
``SPARK_GRAFT_LAYOUT_DIR``. A run snapshots those roots before the
engine starts. An entry is the run's own when it appeared afterwards,
belongs to this user and, under ``/dev/shm``, carries a prefix the
engine gives its scratch directories there; ``/dev/shm`` is shared
with every other program on the machine, whose entries are never
counted or touched. The run's own entries still present after the
final ``release_caches()`` are counted as leaked, and at exit the
benchmark removes them.
"""

from __future__ import annotations

import os
import shutil

SHM = "/dev/shm"

# The ``tempfile.mkdtemp`` prefixes of the engine's directories under
# /dev/shm: stream checkpoints and sink output
# (streaming/stream_queries.py) and snapshot-commit scratch
# (runtime_cache.scratch_commit_dir and its callers).
ENGINE_SHM_PREFIXES = (
    "ckpt_", "foreach_sink_", "pruned_join_",
    "ivf_seg_", "ingest_commit_", "compact_rt_", "merge_multi_",
    "schema_evo_", "vacuum_",
)


def listing(root: str) -> list[str]:
    try:
        return sorted(os.listdir(root))
    except FileNotFoundError:
        return []


def owned_new_entries(
    root: str, before: list[str], prefixes: tuple[str, ...] | None = None
) -> list[str]:
    """Paths under ``root`` that are not in ``before``, belong to this
    user and, when ``prefixes`` is given, start with one of them."""
    seen, uid, out = set(before), os.getuid(), []
    for name in listing(root):
        if name in seen or (prefixes is not None and not name.startswith(prefixes)):
            continue
        path = os.path.join(root, name)
        try:
            if os.lstat(path).st_uid == uid:
                out.append(path)
        except FileNotFoundError:
            pass
    return out


def tree_bytes(path: str) -> int:
    if not os.path.isdir(path) or os.path.islink(path):
        return os.lstat(path).st_size
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except FileNotFoundError:
                pass
    return total


def run_entries(roots: dict[str, list[str]]) -> list[str]:
    """The run's own entries under each root: under /dev/shm only the
    engine's prefixes, anywhere else (directories the run made for the
    engine alone) every new entry."""
    return [
        p for root, before in roots.items()
        for p in owned_new_entries(root, before, ENGINE_SHM_PREFIXES if root == SHM else None)
    ]


def leaks(roots: dict[str, list[str]]) -> tuple[int, int]:
    """(entries, bytes) the run created under ``roots`` and left there."""
    entries = run_entries(roots)
    size = 0
    for p in entries:
        try:
            size += tree_bytes(p)
        except FileNotFoundError:
            pass
    return len(entries), size


def remove_run_entries(roots: dict[str, list[str]]) -> int:
    """Remove the run's own entries under ``roots``; returns how many."""
    gone = 0
    for p in run_entries(roots):
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.unlink(p)
            except FileNotFoundError:
                continue
        gone += 1
    return gone
