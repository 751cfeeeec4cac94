"""Table IO (SURVEY.md §2.A, §7.1 M0).

``load`` is the single entry point every query uses; it conforms the session
(UTC) before the scan so downstream timestamp extracts are deterministic.

Scale notes (SURVEY.md §7.4):
- Parquet scans are pruned/pushed by Catalyst — callers should `.select()`
  early and filter on raw columns so PushedFilters reach the reader.
- At 100 TB the per-table path becomes a directory of many files (possibly
  partitioned); `spark.read.parquet` handles that unchanged. Explicit schemas
  (schemas.py) make reads schema-stable across file drift.

Schema cache: ``read_table`` infers each table's parquet schema once per
process. Spark infers a schema by launching a one-task job that reads a
footer, and every query re-read the same few read-only fixture files, so
that job was most of a short query's plan phase (13 of 13 plan-phase jobs
in a ``relational_etl`` benchmark pass). A hit reads with
``spark.read.schema(<cached>)`` and launches no job. The key is the table
path, the part files' ``(file, st_size, st_mtime_ns, st_ino)`` and the
reader confs that change inferred types (``_INFER_CONFS``); one entry per
path, overwritten when the rest of the key changes, so a table rewritten in
place is re-inferred and the cache stays bounded by the number of paths.
It holds schemas, never DataFrames: two loads of one table must be
independent relations with fresh expression ids, or a self-join
``a.join(b, a.k == b.k)`` becomes ambiguous.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import conform_session

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Reader confs that change the types Spark infers from a parquet footer.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# table path -> (part-file signature + reader confs, inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def table_files(sf_dir: str, name: str) -> list[str]:
    """The parquet files behind a table: the path itself when it is a file,
    else every ``*.parquet`` part under the Spark-written directory.
    Hive-style partition subdirectories count; like Spark's reader, entries
    starting with ``_`` or ``.`` (``_SUCCESS``, an unfinished write's
    ``_temporary/``) do not. Raises OSError when the path is missing."""
    path = table_path(sf_dir, name)
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        raise FileNotFoundError(path)
    hidden = ("_", ".")
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(hidden)]
        files += [
            os.path.join(root, f)
            for f in names
            if f.endswith(".parquet") and not f.startswith(hidden)
        ]
    return sorted(files)


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of a table — the basis for size-derived plan rules.

    Sums the part files of a directory table: ``os.path.getsize`` on the
    directory itself returns the inode size (~4 KB) whatever the data
    volume. None when the table is missing, unreadable or has no parquet
    part, so each caller picks its own safe side for an unknown size."""
    try:
        files = table_files(sf_dir, name)
        return sum(os.path.getsize(f) for f in files) if files else None
    except OSError:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``spark.read.parquet`` of a table, inferring its schema once per
    process (module docstring: cache key and invalidation).

    A miss costs what an uncached read does plus one ``os.stat`` per part
    file. A missing table is read uncached, so Spark raises the same error
    as before; so does a table with no part file, and nothing is cached."""
    path = table_path(sf_dir, name)
    parts = []
    try:
        for f in table_files(sf_dir, name):
            st = os.stat(f)
            parts.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
    except OSError:
        return spark.read.parquet(path)
    key = (tuple(parts), tuple(spark.conf.get(c) for c in _INFER_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalized to the declared schema's temporal
    types.

    The driver regenerates /root/testdata between rounds and the physical
    parquet encoding drifts (observed: events.ts was TIMESTAMP(NANOS) in r1
    — rejected by Spark's vectorized reader — and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) → TIMESTAMP_NTZ in r2). So for every column the
    declared schema (schemas.ALL) says is a timestamp, normalize whatever
    arrived:

    - long (nanosAsLong legacy read of TIMESTAMP(NANOS)): epoch-nanos DIV
      1000 → timestamp_micros — exactly DuckDB's ns→µs truncation, no
      double round-trip (2024 epoch-nanos ≈ 1.7e18 > 2^53);
    - TIMESTAMP_NTZ / DATE / string: cast — same wall clock in the
      UTC-conformed session, matching the DuckDB oracle's naive TIMESTAMP.

    The raw read goes through ``read_table``: the schema is inferred once
    per (path, part-file signature, reader confs) and reused, so a repeat
    load launches no Spark job; rewriting, adding or removing a part file
    or flipping a type-changing reader conf re-infers. Each call still
    returns a new DataFrame (a cached one would share expression ids and
    make self-joins ambiguous), and the normalization below runs on
    whatever schema came back.
    """
    conform_session(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_table(spark, sf_dir, name)

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from . import schemas

    declared = schemas.ALL.get(name)
    if declared is None:
        return df
    for fld in declared.fields:
        if fld.name not in df.columns:
            continue
        want, got = fld.dataType, df.schema[fld.name].dataType
        if isinstance(want, T.TimestampType) and not isinstance(got, T.TimestampType):
            if isinstance(got, T.LongType):
                df = df.withColumn(
                    fld.name, F.timestamp_micros(F.expr(f"{fld.name} DIV 1000"))
                )
            else:
                df = df.withColumn(fld.name, F.col(fld.name).cast(T.TimestampType()))
        elif isinstance(want, T.DoubleType) and isinstance(got, T.DecimalType):
            df = df.withColumn(fld.name, F.col(fld.name).cast(T.DoubleType()))
    return df


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    """Partitioned parquet sink (swallow writer analog).

    Scale note: `partitionBy` on a low-cardinality column gives partition
    pruning on read-back; for high-cardinality keys prefer bucketing.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
