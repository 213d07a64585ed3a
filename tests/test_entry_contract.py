"""Local replica of the driver's correctness gate: every queries()
entry vs its oracle_sql() through DuckDB at sf0.01 (SURVEY.md §5.2
layer 3). Catches schema/alias/value drift before the driver does."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=repr)


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    oracles = entrymod.oracle_sql()
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    if name not in oracles:
        pytest.skip(f"{name}: rows-only check (no SQL oracle)")
    want = duck.execute(oracles[name]).fetchdf()
    assert sorted(got.columns) == sorted(want.columns), (
        name, sorted(got.columns), sorted(want.columns))
    assert len(got) == len(want), (name, len(got), len(want))
    cg, cw = _canon(got), _canon(want)
    mismatches = [(a, b) for a, b in zip(cg, cw) if a != b]
    assert not mismatches, (name, mismatches[:5])


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "doc_id" in df.columns and "score" in df.columns


def test_index_cache_evicts_other_layouts_and_fingerprints(tmp_path):
    """An index cached under an older layout prefix or an older source
    fingerprint of the same sf_dir is evicted, never reused; another
    sf_dir's cache is left alone."""
    import os
    import shutil

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    with open(os.path.join(sf_dir, "embeddings.parquet"), "wb") as f:
        f.write(b"x")
    path = entrymod._index_cache_dir(sf_dir, entrymod.ANN_CACHE)
    scratch, name = os.path.split(path)
    tag = sf_dir.strip("/").replace("/", "_")
    prefix, (old_prefix,) = entrymod.ANN_CACHE
    stale = [os.path.join(scratch, f"{old_prefix}_{tag}_1_2"),
             os.path.join(scratch, f"{prefix}_{tag}_1_2")]
    other = os.path.join(scratch, f"{old_prefix}_{tag}x_1_2")
    try:
        for d in [*stale, other, path]:
            os.makedirs(d)
        assert name.startswith(f"{prefix}_{tag}_")
        assert entrymod._index_cache_dir(sf_dir, entrymod.ANN_CACHE) == path
        assert os.path.isdir(path) and os.path.isdir(other)
        assert not any(os.path.exists(d) for d in stale)
    finally:
        for d in [*stale, other, path]:
            shutil.rmtree(d, ignore_errors=True)
