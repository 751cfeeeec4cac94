"""io.load infers each table's parquet schema once per process.

A repeat load reads with the cached schema and launches no Spark job; a
rewritten or added part file, or a flipped type-changing reader conf,
re-infers. The cache holds schemas only, so two loads of one table stay
independent relations (self-joins resolve)."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from conftest import SF_SMOKE as SF
from pyspark.sql import types as T

from swallow_spark.io import load


def test_repeat_load_launches_no_job(spark, jobs_launched, tmp_path):
    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    sf = str(tmp_path)
    assert jobs_launched(lambda: load(spark, sf, "nation")) == 1
    assert jobs_launched(lambda: load(spark, sf, "nation")) == 0


def test_rewrite_in_place_reinfers(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int64())}), path)
    sf = str(tmp_path)
    assert load(spark, sf, "t").schema["x"].dataType == T.LongType()
    pq.write_table(pa.table({"x": ["a fairly long string", "b", "c"]}), path)
    df = load(spark, sf, "t")
    assert df.schema["x"].dataType == T.StringType()
    assert sorted(r.x for r in df.collect()) == ["a fairly long string", "b", "c"]


def test_added_part_file_reinfers(spark, jobs_launched, tmp_path):
    table = tmp_path / "d.parquet"
    table.mkdir()
    pq.write_table(pa.table({"x": [1, 2, 3]}), table / "part-0.parquet")
    sf = str(tmp_path)
    assert load(spark, sf, "d").count() == 3
    pq.write_table(pa.table({"x": [4, 5]}), table / "part-1.parquet")
    assert jobs_launched(lambda: load(spark, sf, "d")) == 1
    assert load(spark, sf, "d").count() == 5


def test_reader_conf_flip_reinfers(spark, tmp_path):
    pq.write_table(
        pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}), tmp_path / "b.parquet"
    )
    sf = str(tmp_path)
    key = "spark.sql.parquet.binaryAsString"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load(spark, sf, "b").schema["b"].dataType == T.BinaryType()
        spark.conf.set(key, "true")
        df = load(spark, sf, "b")
        assert df.schema["b"].dataType == T.StringType()
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
    finally:
        spark.conf.set(key, saved)


def test_two_loads_self_join(spark):
    a = load(spark, SF, "nation")
    b = load(spark, SF, "nation")
    assert a.join(b, a.n_regionkey == b.n_nationkey).count() == 25


def test_nanos_events_cached_schema(spark, tmp_path):
    tbl = pq.read_table(f"{SF}/events.parquet")
    ts = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(ts, "ts", tbl.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(tbl, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    sf = str(tmp_path)
    first, second = load(spark, sf, "events"), load(spark, sf, "events")
    for df in (first, second):
        assert df.schema["ts"].dataType == T.TimestampType()
    assert first.orderBy("event_id").collect() == second.orderBy("event_id").collect()


def test_concurrent_loads_agree(spark, tmp_path):
    """Threads sharing the cache each get their own table's schema, whether
    they infer it or hit an entry another thread stored."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    for name, typ in (("a", pa.int64()), ("s", pa.string())):
        pq.write_table(pa.table({"x": pa.array([None], typ)}), tmp_path / f"{name}.parquet")
    want = {"a": T.LongType(), "s": T.StringType()}
    sf = str(tmp_path)
    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [
                pool.submit(lambda n: load(spark, sf, n).schema["x"].dataType, n)
                for n in "as" * 16
            ]
            got = [(n, f.result(timeout=120)) for n, f in zip("as" * 16, futs)]
    finally:
        sys.setswitchinterval(saved)
    assert all(typ == want[n] for n, typ in got)
