"""The generated tables: deterministic, and shaped like the engine's
reference test tables (TESTDATA.md).

The facts asserted below were measured on the reference tables at
sf0.001 and sf0.1. Where the reference directory named by the engine's
``tests/conftest.py`` is present, the generated sf0.001 tables are also
compared with it column by column.
"""

import os
import re

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import build, datagen

SF = 0.001


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    out = tmp_path_factory.mktemp("gen")
    datagen.write_tables(str(out), SF, build.DATA_SEED)
    return str(out)


def read(root, name):
    return pq.read_table(os.path.join(root, f"{name}.parquet"))


def test_same_seed_same_tables(generated, tmp_path):
    datagen.write_tables(str(tmp_path), SF, build.DATA_SEED)
    for name in datagen.TABLES:
        assert read(generated, name).equals(read(tmp_path, name)), name


def test_row_counts_follow_scale(generated):
    rows = {n: read(generated, n).num_rows for n in datagen.TABLES}
    assert rows == {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
        "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500,
    }
    # the reference at sf0.1: documents and embeddings are not 1:1
    assert {k: v for k, v in datagen.sizes(0.1).items() if k not in ("region", "nation")} == {
        "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
        "users": 1500,
    }


def test_documented_facts(generated):
    assert str(read(generated, "orders").schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(read(generated, "lineitem").schema.field("l_shipdate").type) == "timestamp[us]"
    docs = read(generated, "documents").to_pandas()
    words = docs.text.str.split().str.len()
    assert 10 <= words.min() and words.max() <= 101
    assert 45 <= words.mean() <= 65  # reference: 55.9 at sf0.001, 54.1 at sf0.1
    assert (docs.n_chars == docs.text.str.len()).all()  # as in the reference
    dup = docs.text.str.endswith(" dup").mean()
    assert 0.02 <= dup <= 0.08  # reference: 5.0 % at both scales
    assert set(" ".join(docs.text).split()) == set(datagen._WORDS) | {"dup"}
    assert docs.source.value_counts().tolist() == [25] * 20
    emb = read(generated, "embeddings").to_pandas()
    vecs = np.stack(emb.embedding.to_numpy())
    assert vecs.shape == (500, 64)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)
    assert sorted(emb.label.unique()) == list(range(10))
    ev = read(generated, "events").to_pandas()
    assert ev.ts.is_monotonic_increasing
    assert str(ev.ts.min().date()) >= "2024-01-01" and str(ev.ts.max().date()) <= "2024-01-31"
    assert ev.user_id.nunique() == 15  # reference: 15 at sf0.001, 1500 at sf0.1
    assert all(re.fullmatch(r'\{"k": \d+\}', p) for p in ev.props)


def profile(root):
    """Per table: schema, row count, and per column its value set (few
    distinct strings), distinct count (many strings) or (min, mean, max)."""
    out = {}
    for name in datagen.TABLES:
        table = read(root, name)
        df = table.to_pandas()
        cols = {}
        for c in df.columns:
            s = df[c]
            if s.dtype == object and isinstance(s.iloc[0], str):
                cols[c] = ("values", set(s)) if s.nunique() <= 30 else ("distinct", s.nunique())
            elif np.issubdtype(s.dtype, np.datetime64):
                cols[c] = ("days", s.min().date(), s.max().date())
            elif np.issubdtype(s.dtype, np.number):
                cols[c] = ("range", float(s.min()), float(s.mean()), float(s.max()))
        out[name] = (table.schema.to_string(show_schema_metadata=False), len(df), cols)
    return out


def test_matches_the_reference_tables(generated):
    ref_dir = build.engine_conftest().TEST_SF_DIR
    if not os.path.isfile(os.path.join(ref_dir, "documents.parquet")):
        pytest.skip("reference sf0.001 tables not present")
    got, ref = profile(generated), profile(ref_dir)
    off = []
    for name in datagen.TABLES:
        (g_schema, g_rows, g_cols), (r_schema, r_rows, r_cols) = got[name], ref[name]
        if (g_schema, g_rows) != (r_schema, r_rows):
            off.append((name, "schema or rows"))
            continue
        for c, r in r_cols.items():
            g = g_cols[c]
            if g[0] != r[0]:
                off.append((name, c, g[0], r[0]))
            elif r[0] == "values":
                if g[1] != r[1] and len(r[1]) <= 25:  # long value lists: names
                    off.append((name, c, sorted(g[1]), sorted(r[1])))
            elif r[0] == "distinct":
                if abs(g[1] - r[1]) > 0.2 * r[1]:
                    off.append((name, c, g, r))
            elif r[0] == "days":
                if abs((g[1] - r[1]).days) > 31 or abs((g[2] - r[2]).days) > 31:
                    off.append((name, c, g, r))
            elif r_rows >= 100:  # ranges of a handful of rows are noise
                width = max(r[3] - r[1], 1e-9)
                if any(abs(a - b) > 0.15 * width for a, b in zip(g[1:], r[1:])):
                    off.append((name, c, g, r))
    assert off == []
