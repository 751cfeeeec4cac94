"""§2.I — the watermark/late-data demo surfaced as a declared rows-only key:
a real Structured Streaming query (file replay, 1-per-trigger micro-batches,
10-minute watermark, append mode) whose finalized windows are returned as a
batch DataFrame.

Late rows (a replayed copy of the oldest 50 events, appended as the LAST
micro-batch) fall behind the watermark and are dropped — streaming-only
semantics the batch twin (stream_tumbling_batch) cannot express, hence
rows-only (§2.I). Determinism: chunk files are explicitly name-ordered so
micro-batch order and watermark advancement are identical on every run.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from ..registry import register


@register("stream_stream_join_demo", oracle=None, tier="T3")
def stream_stream_join_demo(spark, sf_dir):
    """Watermarked stream-stream join (purchases ⋈ clicks of the same user
    within 5 minutes), run as a real streaming query over the deterministic
    replay; returns the joined pairs (rows-only; batch twin: join_interval).
    """
    import shutil as _sh
    import tempfile as _tf

    from demos.streaming.demo_lib import run_stream_stream_join

    work = _tf.mkdtemp(prefix="swallow_ssj_")
    try:
        n = run_stream_stream_join(spark, sf_dir, work)
        rows = spark.sql(
            "SELECT p_id, c_id, p_user AS user_id FROM ss_join"
        ).collect()
        assert len(rows) == n
        return spark.createDataFrame(rows, "p_id long, c_id long, user_id long")
    finally:
        _sh.rmtree(work, ignore_errors=True)


@register("stream_stateful_counter_demo", oracle=None, tier="T3")
def stream_stateful_counter_demo(spark, sf_dir):
    """Arbitrary stateful streaming op (applyInPandasWithState running
    per-user counters across micro-batches); returns each user's final
    total (rows-only; equals the batch groupBy count — asserted in tests).
    """
    import shutil as _sh
    import tempfile as _tf

    from demos.streaming.demo_lib import run_stateful_counter

    work = _tf.mkdtemp(prefix="swallow_state_")
    try:
        run_stateful_counter(spark, sf_dir, work)
        rows = spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM stateful_counter GROUP BY user_id"
        ).collect()
        return spark.createDataFrame(rows, "user_id long, n_events long")
    finally:
        _sh.rmtree(work, ignore_errors=True)


@register("stream_watermark_demo", oracle=None, tier="T3")
def stream_watermark_demo(spark, sf_dir):
    """Tumbling 1h × watermark 10min append-mode aggregation over a
    deterministic chunked replay; returns the emitted (finalized) windows."""
    from demos.streaming.demo_lib import chunked_replay_source

    work = tempfile.mkdtemp(prefix="swallow_wm_")
    try:
        src = chunked_replay_source(spark, sf_dir, f"{work}/replay", late_chunk=True)
        agg = (
            src.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("wstart"), "n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("swallow_wm_demo")
            .outputMode("append")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # materialize before the checkpoint/replay dirs are removed
        rows = spark.sql("SELECT wstart, n FROM swallow_wm_demo").collect()
        return spark.createDataFrame(rows, "wstart timestamp, n long")
    finally:
        shutil.rmtree(work, ignore_errors=True)

@register("stream_dropdup_watermark_demo", oracle=None, tier="T3")
def stream_dropdup_watermark_demo(spark, sf_dir):
    """Streaming dedup via dropDuplicatesWithinWatermark over a replay whose
    last micro-batch duplicates the newest chunk; every duplicate is
    suppressed while inside the 30-min dedup state (rows-only; batch twin:
    stream_dedup_batch / dedup_exact). Returns the emitted-vs-distinct tally.
    """
    import shutil as _sh
    import tempfile as _tf

    from demos.streaming.demo_lib import run_dropdup_watermark

    work = _tf.mkdtemp(prefix="swallow_dd_")
    try:
        r = run_dropdup_watermark(spark, sf_dir, work)
        assert r["emitted"] == r["distinct_base"], r
        return spark.createDataFrame(
            [(r["emitted"], r["distinct_base"])], "emitted long, distinct_base long"
        )
    finally:
        _sh.rmtree(work, ignore_errors=True)


# NOTE: demos/streaming/demo_lib.run_tws_user_stats implements the Spark-4
# transformWithStateInPandas (typed ValueState) version of the stateful
# counter. It is NOT registered as a key because the TWS Python protocol
# requires google.protobuf, which this container does not ship (no installs
# allowed); tests/test_streaming_demos.py gates it with importorskip so it
# runs wherever protobuf exists. applyInPandasWithState
# (stream_stateful_counter_demo) covers the declared arbitrary-stateful-op
# surface here.


@register(
    "stream_incremental_availablenow",
    oracle="""
SELECT CAST(COUNT(*) - COUNT(*) // 4 AS BIGINT) AS run1_rows,
       CAST(COUNT(*) // 4 AS BIGINT) AS run2_rows
FROM events
""",
    tier="T3",
)
def stream_incremental_availablenow(spark, sf_dir):
    """Trigger.AvailableNow incremental ingestion: two runs share one
    checkpoint; the second processes ONLY files that arrived after the
    first (exactly-once file tracking, asserted). Returns the per-run
    processed counts vs ground truth.

    ORACLE (promoted from rows-only in round 7): the landing files split
    events by ntile(4) over ts order, and ntile tile SIZES depend only on
    n (ties shift membership, never cardinality): run 1 drains tiles 1-3 =
    n − n//4 rows, run 2 exactly the 4th tile = n//4 rows. The hash gate
    now pins the exactly-once file-tracking row counts cross-engine."""
    import shutil as _sh
    import tempfile as _tf

    from demos.streaming.demo_lib import run_incremental_availablenow

    work = _tf.mkdtemp(prefix="swallow_incr_")
    try:
        r = run_incremental_availablenow(spark, sf_dir, work)
        assert r["run1"] == r["expected_run1"], r
        assert r["run2"] == r["expected_run2"], r
        return spark.createDataFrame(
            [(r["run1"], r["run2"])], "run1_rows long, run2_rows long"
        )
    finally:
        _sh.rmtree(work, ignore_errors=True)


@register(
    "stream_foreachbatch_upsert_demo",
    oracle="""
SELECT CAST(COUNT(DISTINCT user_id)
            + (CASE WHEN COUNT(*) > COUNT(user_id) THEN 1 ELSE 0 END)
            AS BIGINT) AS rows,
       CAST(4 AS BIGINT) AS n_batches
FROM events
""",
    tier="T3",
)
def stream_foreachbatch_upsert_demo(spark, sf_dir):
    """foreachBatch streaming MERGE/upsert: micro-batches fold into a keyed
    table (latest event per user, versioned-dir atomic swap); the final
    table provably equals the batch twin (exceptAll both ways == 0,
    asserted). Returns (rows, n_batches).

    ORACLE (promoted from rows-only in round 7): the final upsert table
    holds exactly one row per user partition — COUNT(DISTINCT user_id)
    plus one for the NULL-user group if present (Spark window partitioning
    groups NULL keys; SQL COUNT(DISTINCT) skips them, hence the
    COUNT(*) > COUNT(user_id) indicator) — and the replay source stages
    one file per ntile(4) chunk with maxFilesPerTrigger=1, so n_batches is
    exactly 4. The tie-break inside latest_per_user affects which row
    survives, never how many — the declared output is deterministic."""
    import shutil as _sh
    import tempfile as _tf

    from demos.streaming.demo_lib import run_foreachbatch_upsert

    work = _tf.mkdtemp(prefix="swallow_upsert_")
    try:
        r = run_foreachbatch_upsert(spark, sf_dir, work)
        assert r["diff"] == 0, r
        assert r["rows"] == r["twin_rows"], r
        return spark.createDataFrame(
            [(r["rows"], r["n_batches"])], "rows long, n_batches long"
        )
    finally:
        _sh.rmtree(work, ignore_errors=True)


@register("stream_python_datasource_demo", oracle=None, tier="T3")
def stream_python_datasource_demo(spark, sf_dir):
    """Custom Python STREAMING DataSource end-to-end: readStream from the
    swallow_eventstream connector (deterministic bounded feed, 100-row
    micro-batches), per-user running totals in complete mode to a memory
    sink, drained and verified against the closed form. Rows-only per
    §2.I (streaming lifecycle, no SQL twin); the connector's replay
    contract (readBetweenOffsets) is what a broker adapter must honor for
    exactly-once — tests/test_python_datasource.py checks it directly.
    """
    import time

    from ..sources.event_stream_source import MAX_ROWS, register as register_stream

    register_stream(spark)
    feed = spark.readStream.format("swallow_eventstream").load()
    agg = feed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("pyds_stream")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            got = spark.sql("SELECT SUM(n_events) AS n FROM pyds_stream").collect()
            if got and got[0]["n"] == MAX_ROWS:
                break
            time.sleep(0.5)
        rows = spark.sql(
            "SELECT user_id, n_events, CAST(cents AS DOUBLE) / 100 AS total"
            " FROM pyds_stream"
        ).collect()
    finally:
        q.stop()
    # closed-form check: user u gets the events i in [0, MAX_ROWS) with i%7==u
    want = {}
    for i in range(MAX_ROWS):
        u = i % 7
        n, c = want.get(u, (0, 0))
        want[u] = (n + 1, c + int(((i * 37) % 1000) / 100.0 * 100 + 0.5))
    assert {r["user_id"]: (r["n_events"], int(r["total"] * 100 + 0.5)) for r in rows} == want
    return spark.createDataFrame(rows)


@register("stream_python_sink_demo", oracle=None, tier="T3")
def stream_python_sink_demo(spark, sf_dir):
    """Streaming CONNECTOR pair end-to-end: the swallow_eventstream
    streaming source piped into the swallow_jsonl streaming SINK
    (per-epoch task files sealed by a _COMMITTED marker carrying the
    batch row count — the exactly-once protocol of a bulk-indexer /
    object-store sink). Drains the bounded feed, then audits the sink
    directory: only sealed batches, marker counts equal file line
    counts, and the union of all batches is exactly the 300-event feed.
    Returns the per-batch audit as a batch DataFrame (rows-only, §2.I).
    """
    import json as _json
    import os
    import shutil
    import tempfile
    import time

    from ..sources.event_stream_source import MAX_ROWS, register as reg_stream
    from ..sources.jsonl_source import register as reg_jsonl

    reg_stream(spark)
    reg_jsonl(spark)
    out = tempfile.mkdtemp(prefix="swallow_stream_sink_")
    chk = tempfile.mkdtemp(prefix="swallow_stream_chk_")
    try:
        feed = spark.readStream.format("swallow_eventstream").load()
        q = (
            feed.writeStream.format("swallow_jsonl")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            deadline = time.time() + 120
            total = 0
            while time.time() < deadline:
                q.processAllAvailable()
                total = 0
                for b in os.listdir(out):
                    marker = os.path.join(out, b, "_COMMITTED")
                    if os.path.exists(marker):
                        total += _json.load(open(marker))["n"]
                if total >= MAX_ROWS:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        audit, seqs = [], []
        for b in sorted(os.listdir(out)):
            bdir = os.path.join(out, b)
            marker = os.path.join(bdir, "_COMMITTED")
            assert os.path.exists(marker), f"unsealed batch {b}"
            manifest = _json.load(open(marker))
            # trust ONLY the manifest-listed files (exactly-once contract:
            # orphan task files from a crashed attempt are invisible)
            rows = []
            for f, want_file_n in sorted(manifest["files"].items()):
                with open(os.path.join(bdir, f), encoding="utf-8") as fh:
                    file_rows = [_json.loads(line) for line in fh if line.strip()]
                assert len(file_rows) == want_file_n, f"{b}/{f}: manifest mismatch"
                rows += file_rows
            want_n = manifest["n"]
            assert len(rows) == want_n, f"batch {b}: marker {want_n} != {len(rows)}"
            seqs += [r["seq"] for r in rows]
            audit.append((b, want_n))
        assert sorted(seqs) == list(range(MAX_ROWS))  # exactly-once union
        return spark.createDataFrame(audit, "batch string, n_rows long")
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


_ROUNDTRIP_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM (SELECT i % 7 AS user_id, (i * 37) % 1000 AS cents
      FROM range(0, 300) t(i))
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_connector_roundtrip", oracle=_ROUNDTRIP_ORACLE, tier="T2")
def stream_connector_roundtrip(spark, sf_dir):
    """Oracle-checked end-to-end roundtrip of the custom connector PAIR:
    the deterministic swallow_eventstream streaming source is drained
    through the swallow_jsonl streaming SINK's marker-manifest commit
    protocol, then read back with the swallow_jsonl READER in
    mode=committed (only manifest-listed files of sealed batches are
    visible), and aggregated per user. Because the feed is pure offset
    arithmetic (event i: user i%7, cents (i*37)%1000), the readback has a
    closed-form DuckDB oracle — this makes the §2.A adapter surface
    hash-checked rather than rows-only.

    Scale notes: the sink's exactly-once protocol (deterministic
    task-<partitionId> filenames + manifest-listed reads) is exactly the
    object-store/bulk-indexer recovery contract; the readback aggregation
    is an ordinary partial+final hash aggregate.
    """
    import os
    import time

    from pyspark.sql import functions as F

    from ..sources.event_stream_source import MAX_ROWS, register as reg_stream
    from ..sources.jsonl_source import register as reg_jsonl

    reg_stream(spark)
    reg_jsonl(spark)
    out = tempfile.mkdtemp(prefix="swallow_roundtrip_sink_")
    chk = tempfile.mkdtemp(prefix="swallow_roundtrip_chk_")
    try:
        feed = spark.readStream.format("swallow_eventstream").load()
        q = (
            feed.writeStream.format("swallow_jsonl")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            import json as _json

            deadline = time.time() + 120
            while time.time() < deadline:
                q.processAllAvailable()
                total = 0
                for b in os.listdir(out):
                    marker = os.path.join(out, b, "_COMMITTED")
                    if os.path.exists(marker):
                        total += _json.load(open(marker))["n"]
                if total >= MAX_ROWS:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        back = (
            spark.read.format("swallow_jsonl")
            .schema("seq bigint, user_id bigint, amount double")
            .option("path", out)
            .option("mode", "committed")
            .load()
        )
        rows = (
            back.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("amount") * 100).cast("long")).alias("total_cents"),
            )
            .orderBy("user_id")
            .collect()
        )
        # materialize before the tmpdir vanishes; rebuild as a local DF with
        # the declared schema so the driver's lazy collect sees stable data
        return spark.createDataFrame(
            rows, "user_id bigint, n_events bigint, total_cents bigint"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


@register("stream_stream_outer_demo", oracle=None, tier="T3")
def stream_stream_outer_demo(spark, sf_dir):
    """LEFT OUTER watermarked stream-stream join, run as a REAL streaming
    query over the deterministic replay (see demos/streaming/demo_lib.
    run_stream_stream_left_outer): unmatched purchases are emitted with
    NULL click columns only after the global watermark passes them — the
    state-eviction semantics the inner variant (stream_stream_join_demo)
    cannot express. Asserted in-key against the exact batch computation:
    matched rows == the batch pair count, NULL rows == purchases with no
    click in their window (rows-only, §2.I)."""
    import shutil as _sh
    import tempfile as _tf

    from demos.streaming.demo_lib import run_stream_stream_left_outer

    from ..io import load

    work = _tf.mkdtemp(prefix="swallow_sso_")
    try:
        got = run_stream_stream_left_outer(spark, sf_dir, work)
        e = load(spark, sf_dir, "events")
        p = e.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("u"), F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        c = e.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("u"), F.col("ts").alias("c_ts"),
        )
        cond = (F.col("c_ts") >= F.col("p_ts")) & (
            F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 5 MINUTES")
        )
        pairs = p.join(c, ["u"]).filter(cond)
        want_matched = pairs.count()
        want_null = p.count() - pairs.select("p_id").distinct().count()
        assert got["matched"] == want_matched, (got, want_matched)
        assert got["null_rows"] == want_null, (got, want_null)
        return spark.createDataFrame(
            [("matched", got["matched"]), ("null_rows", got["null_rows"])],
            "kind string, n long",
        )
    finally:
        _sh.rmtree(work, ignore_errors=True)


@register("stream_incremental_dedup_demo", oracle=None, tier="T3")
def stream_incremental_dedup_demo(spark, sf_dir):
    """Incremental exact dedup of an ARRIVING corpus (see demos/streaming/
    demo_lib.run_incremental_dedup): documents stream in 4 micro-batches;
    each batch dedupes within itself and anti-joins the persisted
    signature store of everything already accepted, then appends its new
    signatures (foreachBatch) — the production pattern for deduping new
    crawl data against a historical corpus without rescanning it. The
    surviving doc_id set is asserted EQUAL to the batch twin
    (min-doc_id-per-content-hash, dedup_exact's survivor rule). Rows-only
    (streaming lifecycle, §2.I)."""
    import shutil as _sh
    import tempfile as _tf

    from demos.streaming.demo_lib import run_incremental_dedup

    work = _tf.mkdtemp(prefix="swallow_incrdedup_")
    try:
        r = run_incremental_dedup(spark, sf_dir, work)
        assert r["set_equal"], r
        assert r["kept"] == r["twin"], r
        return spark.createDataFrame(
            [(r["kept"], r["twin"], r["n_files"])],
            "kept long, twin long, n_files long",
        )
    finally:
        _sh.rmtree(work, ignore_errors=True)


# ------------------------------------------------- stream-static enrich

_ENRICH_ORACLE = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
WHERE e.user_id IS NOT NULL
GROUP BY n.n_name
ORDER BY n.n_name
"""


@register("stream_static_enrich", oracle=_ENRICH_ORACLE, tier="T2")
def stream_static_enrich(spark, sf_dir):
    """Stream-static join — the single most common production Structured
    Streaming shape: a file-streaming read of the event feed enriched
    against a STATIC broadcastable dimension (nation, keyed by
    user_id % 25), aggregated per dimension attribute in complete mode,
    drained with Trigger.AvailableNow into a memory sink. The static side
    is re-resolved per micro-batch (Spark's stream-static contract — a
    slowly-changing dim picks up new snapshots between batches without
    restarting the query).

    ORACLE-CHECKED: the drain is bounded and deterministic, so the final
    complete-mode table must equal the batch join bit-for-bit — cents are
    exact int64, the join key is pure integer arithmetic (% on
    non-negative operands), and the 25-row result is re-materialized as a
    local DataFrame so the memory-sink temp view never leaks across
    session reuse.

    Scale note: the static side stays broadcast in every micro-batch (same
    plan as join_broadcast); state is the 25-row aggregate. At 100 TB of
    feed the cost is the file listing + scan; the enrichment adds no
    shuffle.
    """
    import os
    import uuid

    from ..io import load as _load, read_table

    epath = os.path.join(sf_dir, "events.parquet")
    schema = read_table(spark, sf_dir, "events").schema
    nation = _load(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    # FileStreamSource requires a DIRECTORY; stage the (read-only) fixture
    # file into a temp dir via hard link (zero-copy, same filesystem).
    feed_dir = tempfile.mkdtemp(prefix="swallow_enrich_feed_")
    staged = os.path.join(feed_dir, "events.parquet")
    try:
        try:
            os.link(epath, staged)
        except OSError:
            shutil.copy(epath, staged)
        feed = (
            spark.readStream.schema(schema)
            .parquet(feed_dir)
            .filter(F.col("user_id").isNotNull())
        )
        enriched = feed.join(
            F.broadcast(nation), feed.user_id % 25 == nation.n_nationkey
        )
        agg = enriched.groupBy("n_name").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("sum_cents"),
        )
        qname = "enrich_" + uuid.uuid4().hex[:12]
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                "stream_static_enrich: AvailableNow drain did not finish "
                "within 120s — failing loudly instead of reading a "
                "partially-filled memory sink"
            )
        rows = spark.table(qname).collect()
        spark.catalog.dropTempView(qname)
        return spark.createDataFrame(
            rows, "n_name string, n_events long, sum_cents long"
        ).orderBy("n_name")
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
