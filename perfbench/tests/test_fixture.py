"""The generated fixture is the published seed-42 fixture, value for value.

The digests below were taken from the published sf0.01 parquet files (the
engine's oracle-gate scale): per table, every column's name, arrow type and
values in row order. A generator change that moves any value, type or row
count fails here, so the benchmark never silently drifts to data the
engine's tests do not see.
"""

from __future__ import annotations

import hashlib

import fixture
import pyarrow.parquet as pq
import pytest

PUBLISHED_SF001 = {
    "region": "5027c4bb2c5bfce954e21cd2668c43e4",
    "nation": "ad7b83144992458bf25a2b51b72c4805",
    "customer": "d407a43650d949c74123be677b0c4b1c",
    "supplier": "74cd696c60f5313b9da02854c63e457a",
    "part": "23abf2eda7ce3c7085771596b2df7ad9",
    "orders": "8319a2581ae434797b03fca76b7d638d",
    "lineitem": "e8a28c50f9675fd855259c97659d3571",
    "events": "3e6cae7ab6d1bf39af2f16d9e2f8ca77",
    "documents": "6173d8fb751ed8f950a823ab9fb5fa97",
    "embeddings": "91b9073e2649e00198a6eee0d5278934",
}


def table_digest(tbl) -> str:
    h = hashlib.sha256()
    for c in tbl.column_names:
        h.update(c.encode())
        h.update(str(tbl[c].type).encode())
        h.update(repr(tbl[c].to_pylist()).encode())
    return h.hexdigest()[:32]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("fixture") / "sf0.01"
    fixture.write(str(path), 0.01, 42)
    return path


def test_writes_every_engine_table(sf_dir):
    from swallow_spark import TABLES

    assert sorted(p.stem for p in sf_dir.glob("*.parquet")) == sorted(TABLES)


@pytest.mark.parametrize("name", sorted(PUBLISHED_SF001))
def test_table_matches_published_sf001(sf_dir, name):
    assert table_digest(pq.read_table(sf_dir / f"{name}.parquet")) == PUBLISHED_SF001[name]
