"""Inputs the benchmark builds once per checkout and reuses.

* The ten tables, generated by :mod:`perfbench.datagen` at the chosen
  scale from a fixed seed, so every run reads the same data.
* The expected answer of every workload key: its registered DuckDB
  oracle evaluated on those tables. Answers are stamped with a hash of
  the engine's sources, so editing the engine rebuilds them.

Both live under ``perfbench/_build`` (ignored by git); a fresh
checkout's first run builds them.
"""

from __future__ import annotations

import functools
import hashlib
import os
import pickle
import shutil

from perfbench import datagen

DATA_SEED = 42  # the generator seed of the benchmark's tables
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, "perfbench", "_build")
ENGINE = os.path.join(ROOT, "lakehouse_app_spark")


def data_dir(sf: float) -> str:
    return os.path.join(BUILD, f"data-sf{sf:g}-seed{DATA_SEED}")


def oracle_path(sf: float, key: str) -> str:
    return os.path.join(BUILD, f"oracles-sf{sf:g}", f"{key}.pkl")


def engine_digest() -> str:
    h = hashlib.sha256()
    for base, dirs, files in os.walk(ENGINE):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ENGINE).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def ensure_data(sf: float) -> str:
    out = data_dir(sf)
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, sf, DATA_SEED)
        os.replace(tmp, out)
    return out


def ensure_oracles(sf: float, keys: tuple[str, ...]) -> None:
    """Evaluate each key's oracle on the generated tables, unless an
    answer stamped with the current engine digest is already stored."""
    digest = engine_digest()
    todo = []
    for key in keys:
        try:
            with open(oracle_path(sf, key), "rb") as f:
                if pickle.load(f)["engine"] == digest:
                    continue
        except (OSError, EOFError, KeyError, pickle.UnpicklingError):
            pass
        todo.append(key)
    if not todo:
        return
    import duckdb

    from lakehouse_app_spark import ORACLES, load_all_queries

    load_all_queries()
    src = ensure_data(sf)
    os.makedirs(os.path.dirname(oracle_path(sf, todo[0])), exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(BUILD, 'duckdb_tmp')}'")
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
        for key in todo:
            frame = con.execute(ORACLES[key]).fetchdf()
            tmp = oracle_path(sf, key) + ".tmp"
            with open(tmp, "wb") as f:
                pickle.dump({"engine": digest, "frame": frame}, f)
            os.replace(tmp, oracle_path(sf, key))
    finally:
        con.close()


@functools.cache
def engine_conftest():
    """The engine's ``tests/conftest.py``, loaded as a module."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "engine_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def comparator():
    """``assert_frames_match`` from the engine's test suite: the same
    order-insensitive, dtype-checked comparison its oracle tests use."""
    return engine_conftest().assert_frames_match


def load_oracle(sf: float, key: str):
    """The stored DuckDB answer for ``key`` (written by this module)."""
    with open(oracle_path(sf, key), "rb") as f:
        return pickle.load(f)["frame"]
