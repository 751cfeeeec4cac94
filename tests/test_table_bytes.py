"""io.table_bytes: the input-size basis of the scale-adaptive plan rules.

A Spark-written table is a DIRECTORY of part files, and ``os.path.getsize``
on a directory returns its inode size (~4 KB) whatever the data volume. The
katz pre-partition rule once sized lineitem that way, so a directory-layout
lineitem was never pre-partitioned at any scale. table_bytes sums the
parquet parts instead; the size rules of graph_katz_centrality,
eval_dedup_minhash_quality and the sim_pairs_threshold label probe all read
it.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from conftest import SF_SMOKE

from swallow_spark.io import table_bytes, table_files

SHIPPED = sorted(str(p) for p in Path(SF_SMOKE).parent.glob("sf*") if p.is_dir())


def _write(path: Path, n: int) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(b"x" * n)


def test_directory_table_sums_part_files(tmp_path):
    t = tmp_path / "lineitem.parquet"
    _write(t / "part-00000-a.snappy.parquet", 70_000)
    _write(t / "part-00001-a.snappy.parquet", 30_000)
    _write(t / "l_shipmode=AIR" / "part-00000-b.snappy.parquet", 5_000)
    _write(t / "_SUCCESS", 0)
    _write(t / "_temporary" / "0" / "part-00002-c.snappy.parquet", 9_000)
    _write(t / ".part-00000-a.snappy.parquet.crc", 600)
    assert table_bytes(str(tmp_path), "lineitem") == 105_000
    assert len(table_files(str(tmp_path), "lineitem")) == 3


def test_file_table_and_unknown_sizes(tmp_path):
    _write(tmp_path / "orders.parquet", 1234)
    assert table_bytes(str(tmp_path), "orders") == 1234
    assert table_bytes(str(tmp_path), "missing") is None
    (tmp_path / "empty.parquet").mkdir()
    assert table_bytes(str(tmp_path), "empty") is None


@pytest.mark.parametrize("sf_dir", SHIPPED)
def test_shipped_fixtures_keep_their_plan_arms(sf_dir):
    """Every shipped fixture sits on the measured small-input side of both
    rules: katz does not pre-partition, and the dedup-quality FULL OUTER
    stays a shuffled-hash join."""
    from swallow_spark.queries.graph import _KATZ_REPART_MIN_BYTES
    from swallow_spark.queries.llm_dedup import _DEDUP_QUALITY_SHJ_MAX_BYTES

    assert table_bytes(sf_dir, "lineitem") < _KATZ_REPART_MIN_BYTES
    assert table_bytes(sf_dir, "documents") <= _DEDUP_QUALITY_SHJ_MAX_BYTES
