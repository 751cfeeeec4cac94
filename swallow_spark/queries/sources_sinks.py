"""§2.A — source/sink round-trips and tolerant reads (the swallow reader/
writer adapters re-expressed as Spark sources/sinks).

Round-trips write under /tmp/swallow_spark_io/<sf>/ (overwrite mode, safe to
re-run). The ES/RabbitMQ/MongoDB/Kafka adapters of the reference are not
exercisable offline — their Spark mappings are documented in SURVEY.md §2.A
(spark.read.format(...), readStream kafka, foreachBatch push sinks).

Scale notes: csv/json round-trips repartition on write so output files
parallelize; the partitioned parquet sink demonstrates partition pruning on
read-back (the predicate-pushdown path a 100 TB table relies on).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas
from ..io import load, read_table
from ..registry import register

_IO_ROOT = "/tmp/swallow_spark_io"


def _io_dir(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    return f"{_IO_ROOT}/{tag}/{name}"


@register(
    "source_csv_roundtrip",
    oracle="SELECT * FROM customer",
    tier="T2",
)
def source_csv_roundtrip(spark, sf_dir):
    """customer → csv (header) → read back with the explicit declared schema
    (swallow CSVio analog). ORACLE-CHECKED against the source table since
    round 4: with distinct null/empty markers (nullValue='\\N' on both
    sides, quoted-empty emptyValue on write) the round-trip is lossless
    even for empty strings vs NULLs — the default CSV options conflate the
    two. Doubles survive via Java shortest-repr toString → exact parse."""
    path = _io_dir(sf_dir, "customer_csv")
    c = load(spark, sf_dir, "customer")
    (
        c.write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", "\\N")
        .option("emptyValue", '""')
        .csv(path)
    )
    return (
        spark.read.schema(schemas.customer)
        .option("header", "true")
        .option("nullValue", "\\N")
        .csv(path)
    )


@register(
    "source_jsonl_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    tier="T2",
)
def source_jsonl_roundtrip(spark, sf_dir):
    """documents → line-delimited JSON → read back with explicit schema
    (swallow JSON-file adapter analog). ORACLE-CHECKED against the source
    table itself: JSON round-trips strings (incl. unicode), NULLs and
    integers losslessly, so the read-back must hash-equal the original —
    promoted from rows-only in round 4 (CSV stays rows-only: empty strings
    come back as NULL there, inherently lossy)."""
    path = _io_dir(sf_dir, "documents_jsonl")
    d = load(spark, sf_dir, "documents")
    d.write.mode("overwrite").json(path)
    return spark.read.schema(schemas.documents).json(path).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "source_orc_roundtrip",
    oracle="SELECT * FROM orders",
    tier="T2",
)
def source_orc_roundtrip(spark, sf_dir):
    """orders → ORC → read back (columnar-warehouse interchange analog —
    ORC is built into Spark, the second first-class columnar format after
    parquet). ORACLE-CHECKED against the source table: ORC round-trips
    longs, doubles, dates and strings losslessly, so the read-back must
    hash-equal the original.

    Scale notes: ORC writes carry min/max stripe statistics, so the same
    predicate-pushdown/pruning story as parquet applies on read-back;
    the write repartitions nothing (task-per-partition parallel write)."""
    path = _io_dir(sf_dir, "orders_orc")
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "sink_partitioned",
    oracle="SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang",
    tier="T2",
)
def sink_partitioned(spark, sf_dir):
    """Partitioned parquet sink (partitionBy lang) + pruned read-back count.

    The read-back groupBy(lang) count touches only partition directories —
    Spark answers it from partition values, the 100 TB pruning path."""
    path = _io_dir(sf_dir, "documents_by_lang")
    d = load(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


_CORRUPT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("payload", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


@register(
    "source_corrupt_tolerant",
    oracle="""
SELECT CAST(id AS BIGINT) AS id, payload, CAST(is_corrupt AS INT) AS is_corrupt
FROM (VALUES (1, 'ok', 0), (2, 'fine', 0),
             (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 1),
             (4, 'good', 0),
             (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), 1)) t(id, payload, is_corrupt)
""",
    tier="T2",
)
def source_corrupt_tolerant(spark, sf_dir):
    """PERMISSIVE JSON read: bad records land in _corrupt_record instead of
    failing the job (swallow's skip-bad-document semantics).

    Returns (id, payload, is_corrupt) with exactly the 2 planted bad lines
    flagged. ORACLE-CHECKED since round 4: the key plants its own input, so
    the expected PERMISSIVE-mode output is a constant — the oracle is that
    literal (malformed records null all data columns and set the corrupt
    marker)."""
    path = _io_dir(sf_dir, "corrupt_jsonl")
    os.makedirs(path, exist_ok=True)
    lines = [
        '{"id": 1, "payload": "ok"}',
        '{"id": 2, "payload": "fine"}',
        '{"id": 3, "payload": BROKEN',
        '{"id": 4, "payload": "good"}',
        "not json at all",
    ]
    with open(f"{path}/part-000.jsonl", "w") as f:
        f.write("\n".join(lines) + "\n")
    df = (
        spark.read.schema(_CORRUPT_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{path}/part-000.jsonl")
    )
    return df.select(
        "id", "payload", F.col("_corrupt_record").isNotNull().cast("int").alias("is_corrupt")
    )


@register(
    "source_python_datasource",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY lang
""",
    tier="T2",
)
def source_python_datasource(spark, sf_dir):
    """Custom Spark-4 Python DataSource (swallow reader-adapter analog):
    documents → jsonl files → read back through format("swallow_jsonl")
    (per-file partitions, bad-line skipping) → aggregate. The oracle checks
    the custom connector round-trips losslessly."""
    from ..sources.jsonl_source import register as register_source

    register_source(spark)
    path = _io_dir(sf_dir, "documents_pyds")
    d = load(spark, sf_dir, "documents")
    d.repartition(4).write.mode("overwrite").json(path)
    back = (
        spark.read.format("swallow_jsonl")
        .schema(schemas.documents)
        .option("path", path)
        .load()
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )


@register(
    "sink_python_datasource",
    oracle="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n
FROM documents
GROUP BY source
""",
    tier="T2",
)
def sink_python_datasource(spark, sf_dir):
    """Full custom-connector round-trip: documents written through the
    swallow_jsonl Python DataSource WRITER (per-task files + commit marker),
    read back through its reader, aggregated — write path proven lossless."""
    from ..sources.jsonl_source import register as register_source

    register_source(spark)
    path = _io_dir(sf_dir, "documents_pyds_w")
    d = load(spark, sf_dir, "documents")
    d.write.format("swallow_jsonl").mode("overwrite").option("path", path).save()
    back = (
        spark.read.format("swallow_jsonl")
        .schema(schemas.documents)
        .option("path", path)
        .load()
    )
    return back.groupBy("source").agg(F.count(F.lit(1)).alias("n"))


@register(
    "multimodal_pipeline",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substr(sha256(text), 1, 12) AS sha_head,
       CAST(n_chars % 640 AS INT) AS width,
       CAST(n_chars % 480 AS INT) AS height
FROM documents
""",
    tier="T2",
)
def multimodal_pipeline(spark, sf_dir):
    """Multimodal column plumbing: opaque binary payload + typed metadata
    struct, feature-extracted with an Arrow-batched mapInPandas.

    The decode step is a STUB (no image/audio libs in this container): the
    "image" is the utf-8 text payload and decode derives deterministic fake
    dimensions. The Spark-side plumbing — BinaryType column, metadata struct,
    mapInPandas batch signature, output schema — is real and is exactly what
    a jpeg/wav decoder would plug into. ORACLE-CHECKED since round 4: the
    stub features (byte count, sha256 head, meta fields) all have exact
    DuckDB twins (sha256 of the same utf-8 bytes in both engines).
    """
    import hashlib

    import pandas as pd

    d = load(spark, sf_dir, "documents")
    with_blob = d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit("fake/rgb8").alias("mime"),
        ).alias("meta"),
    )

    def decode_stub(batches):
        for pdf in batches:
            # Real decoder would go here (PIL.Image.open etc.) — stubbed.
            # None payloads (NULL text) propagate as NULLs like the oracle's
            # sha256(NULL)/octet_length(NULL).
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(
                        [None if b is None else len(b) for b in pdf["payload"]],
                        dtype="Int64",
                    ),
                    "sha_head": [
                        None
                        if b is None
                        else hashlib.sha256(bytes(b)).hexdigest()[:12]
                        for b in pdf["payload"]
                    ],
                    "width": pdf["meta"].map(lambda m: m["width"]),
                    "height": pdf["meta"].map(lambda m: m["height"]),
                }
            )

    return with_blob.mapInPandas(
        decode_stub,
        "doc_id long, n_bytes long, sha_head string, width int, height int",
    )


@register(
    "source_merge_schema",
    oracle="""
SELECT CAST(NULL AS VARCHAR) AS ingest_tag, CAST(COUNT(*) AS BIGINT) AS n
FROM region
UNION ALL
SELECT 'v2', CAST(COUNT(*) AS BIGINT) FROM region
""",
    tier="T2",
)
def source_merge_schema(spark, sf_dir):
    """Schema evolution on read: batch 1 writes (r_regionkey, r_name),
    batch 2 adds a populated `ingest_tag` column; mergeSchema=true unions
    the schemas and back-fills nulls for the old files — how a long-lived
    100 TB parquet table absorbs added columns without rewrite.

    Returns per-tag counts (tag null = pre-evolution files) — ORACLE-
    CHECKED: both evolution batches derive from region, so the merged
    per-tag counts are exactly one region count per batch (promoted from
    rows-only in round 4)."""
    path = _io_dir(sf_dir, "region_evolving")
    r = load(spark, sf_dir, "region")
    r.write.mode("overwrite").parquet(path)
    r.withColumn("ingest_tag", F.lit("v2")).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        merged.groupBy("ingest_tag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("ingest_tag").asc_nulls_first())
    )


@register(
    "source_xml_roundtrip",
    oracle="SELECT * FROM nation",
    tier="T2",
)
def source_xml_roundtrip(spark, sf_dir):
    """nation → XML files → read back with the explicit declared schema
    (Spark 4 ships the XML source natively — the swallow XMLio analog).
    Element content is XML-escaped on write, so free-text comments with
    &/</> survive; the explicit schema on read pins types (inference would
    widen n_nationkey to the default long anyway, but never rely on it).

    Scale note: XML write/read parallelizes per-partition like any file
    source; rowTag framing keeps records independently splittable at read.
    """
    path = _io_dir(sf_dir, "nation_xml")
    n = load(spark, sf_dir, "nation")
    (
        n.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    return (
        spark.read.schema(schemas.nation)
        .format("xml")
        .option("rowTag", "nation")
        .load(path)
    )


from ..conform import sql_poly_hash_duck as _binf_phd  # noqa: E402
from ..conform import sql_poly_hash_spark as _binf_phs  # noqa: E402


@register(
    "source_binaryfile",
    oracle=f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST({_binf_phd('text')} AS BIGINT) AS content_hash
FROM documents WHERE doc_id < 24
""",
    tier="T2",
)
def source_binaryfile(spark, sf_dir):
    """binaryFile source (Spark's built-in whole-file binary reader — the
    ingest path for raw media/model blobs, swallow's file-adapter analog
    for opaque payloads): 24 fixture documents are materialized as
    standalone .txt files, read back as (path, length, content BINARY)
    rows via format("binaryFile") with a pathGlobFilter, and verified
    against the source table by byte length + portable content hash of the
    UTF-8-decoded payload.

    Determinism: file names are doc_<id>.txt so doc_id round-trips through
    regexp_extract on the path; `length` is the file's exact byte size
    (equals octet_length(text) — the files are written as raw UTF-8);
    content_hash is conform.poly_hash over the decoded string in BOTH
    engines. Setup materializes a BOUNDED 24-row sample driver-side
    (sorted, collect-bounded) — the measured operator is the binaryFile
    scan, which is distributed (one task per file, files >
    maxPartitionBytes are NOT split; binaryFile never splits a file).

    Scale note: at 100 TB the binaryFile reader is for many medium blobs
    (images, audio) — one row per file, so small-file pressure is on the
    driver's file listing; pack tiny payloads into parquet BINARY columns
    instead (multimodal_join's layout) and keep binaryFile for objects
    that must stay addressable as files.
    """
    path = _io_dir(sf_dir, "documents_binaryfile")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 24)
    # Bounded setup (24 files): write each doc's text as raw UTF-8 bytes.
    rows = d.select("doc_id", "text").orderBy("doc_id").collect()
    os.makedirs(path, exist_ok=True)
    for r in rows:
        with open(f"{path}/doc_{r['doc_id']}.txt", "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    return bf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.expr(_binf_phs("decode(content, 'UTF-8')")).cast("long").alias("content_hash"),
    )


@register(
    "sink_partition_overwrite_dynamic",
    oracle="""
WITH base AS (
  SELECT CAST(ts AS DATE) AS day, event_type, event_id
  FROM events WHERE CAST(ts AS DATE) <= (SELECT MIN(CAST(ts AS DATE)) + 6
                                         FROM events)
),
target_day AS (SELECT MIN(day) AS d FROM base)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT day, event_id FROM base
  WHERE day <> (SELECT d FROM target_day)
  UNION ALL
  SELECT day, event_id FROM base
  WHERE day = (SELECT d FROM target_day) AND event_type = 'purchase'
)
GROUP BY day
""",
    tier="T2",
)
def sink_partition_overwrite_dynamic(spark, sf_dir):
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic) — the
    idempotent-backfill primitive: a second write that touches ONE day
    replaces exactly that day's partition and leaves every other partition
    byte-untouched (static mode would truncate the whole table — the
    classic backfill disaster). Sequence: write 7 days of events
    partitioned by day, then overwrite the first day with a corrected
    (purchases-only) load; the read-back per-day counts must show only
    day 1 changed, which the oracle computes in closed form.

    Determinism: exact counts over a fixed 7-day slice anchored on the
    data's own min date. Scale note: the backfill write shuffles only the
    corrected day's rows; read-back partition pruning works unchanged.
    This is the path-based analog of catalog MERGE/REPLACE WHERE — the
    100 TB daily-reprocessing workflow.
    """
    path = _io_dir(sf_dir, "events_dyn_overwrite")
    e = load(spark, sf_dir, "events")
    lo = e.agg(F.min(F.col("ts").cast("date")).alias("lo"))
    base = (
        e.crossJoin(F.broadcast(lo))
        .filter(F.col("ts").cast("date") <= F.date_add(F.col("lo"), 6))
        .select(
            F.col("ts").cast("date").alias("day"),
            "event_type",
            "event_id",
            F.col("lo"),
        )
    )
    base.drop("lo").write.mode("overwrite").partitionBy("day").parquet(path)
    corrected = base.filter(
        (F.col("day") == F.col("lo")) & (F.col("event_type") == "purchase")
    ).drop("lo")
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("day").cast("date").alias("day"), "n")
    )


@register(
    "source_file_metadata",
    oracle="""
SELECT 'orders.parquet' AS file_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys
FROM orders
""",
    tier="T2",
)
def source_file_metadata(spark, sf_dir):
    """Hidden file-metadata columns (`_metadata.file_name` — Spark's
    row-provenance surface): every parquet row exposes which physical file
    it came from, the primitive behind corrupt-file quarantine, per-file
    audits and incremental reprocessing ("which files contributed these
    bad rows?"). The key groups the orders scan by its source file name
    and must attribute every row to orders.parquet.

    Determinism: the fixture table is a single file whose basename is
    pinned by the layout contract (TESTDATA.md); counts are exact. At
    100 TB the same query yields per-file row counts — join it against
    the ingest manifest to find short-loaded files.

    Scale note: _metadata is populated at scan time from the split being
    read — zero extra IO, no shuffle beyond the tiny aggregate; filtering
    ON _metadata.file_name prunes at the file listing, like a partition
    column.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.col("_metadata.file_name").alias("file_name"), "o_orderkey"
    )
    return o.groupBy("file_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_orderkey").cast("long").alias("n_keys"),
    )
