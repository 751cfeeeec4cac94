"""Warehouse-ETL operators: merge/upsert, SCD2 history windows, table
profiling, histograms, stratified sampling — the batch-ETL verbs a swallow
user runs daily, re-expressed as single Catalyst plans.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conform import rnd, sql_rnd
from ..io import load
from ..ops.materialize import materialize
from ..registry import register


@register(
    "etl_merge_upsert",
    oracle="""
WITH updates AS (
  SELECT c_custkey, c_acctbal + 1000 AS new_bal
  FROM customer WHERE c_mktsegment = 'MACHINERY'
)
SELECT c.c_custkey,
       COALESCE(u.new_bal, c.c_acctbal) AS acctbal,
       CAST(u.c_custkey IS NOT NULL AS INT) AS was_updated
FROM customer c LEFT JOIN updates u ON c.c_custkey = u.c_custkey
""",
    tier="T2",
)
def etl_merge_upsert(spark, sf_dir):
    """MERGE-style upsert without a table format: base LEFT JOIN updates,
    coalesce updated values, flag touched rows.

    Scale note: this is the Delta/Iceberg MERGE plan shape (join on the
    merge key); with a broadcastable update set the base never shuffles.
    """
    c = load(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("u_key"), (F.col("c_acctbal") + 1000).alias("new_bal")
    )
    return c.join(F.broadcast(updates), c.c_custkey == updates.u_key, "left").select(
        "c_custkey",
        F.coalesce(F.col("new_bal"), F.col("c_acctbal")).alias("acctbal"),
        F.col("u_key").isNotNull().cast("int").alias("was_updated"),
    )


@register(
    "etl_scd2",
    oracle="""
SELECT o_custkey, o_orderkey,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS valid_to,
       CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) IS NULL
            AS INT) AS is_current
FROM orders
""",
    tier="T2",
)
def etl_scd2(spark, sf_dir):
    """SCD-type-2 history build: each customer's orders become versioned
    rows with [valid_from, valid_to) windows; open-ended row flagged current."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "etl_profile_table",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       MIN({c}) AS min_val, MAX({c}) AS max_val
FROM lineitem"""
        for c in _PROFILE_COLS
    ),
    tier="T2",
)
def etl_profile_table(spark, sf_dir):
    """Column profiling (null/distinct/min/max per column, long format) —
    the data-quality snapshot an ETL run emits before loading.

    Scale note: one pass per column here for clarity; the N-column variant
    fuses into a single aggregate with N×4 expressions.
    """
    li = load(spark, sf_dir, "lineitem")
    out = None
    for c in _PROFILE_COLS:
        d = li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(c).alias("n_nonnull"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).alias("min_val"),
            F.max(c).alias("max_val"),
        ).select(F.lit(c).alias("column_name"), "*")
        out = d if out is None else out.unionByName(d)
    return out


@register(
    "agg_histogram",
    oracle="""
SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(FLOOR(o_totalprice / 50000) AS BIGINT) * 50000 AS bin_lo
FROM orders
GROUP BY 1
""",
    tier="T2",
)
def agg_histogram(spark, sf_dir):
    """Fixed-width histogram of order value (floor-bucketing — deterministic
    in both engines, unlike engine-specific width_bucket variants)."""
    o = load(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / 50000)
    return o.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias("n")).select(
        "bin", "n", (F.col("bin") * 50000).alias("bin_lo")
    )


_STRATA = {"en": 100, "zh": 300, "es": 300, "de": 300, "fr": 300}  # per-1000 rates


@register(
    "sample_stratified",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE (((doc_id % 1000003) * 2654435761) % 1000003) % 1000
      < CASE lang {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA.items())} ELSE 0 END
""",
    tier="T2",
)
def sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-language rates (downsample the
    dominant language, upsample the rest) via integer key-hash slots —
    rerun- and partitioning-stable, the training-mixture building block."""
    d = load(spark, sf_dir, "documents")
    slot = F.pmod(
        F.pmod(F.pmod(F.col("doc_id"), F.lit(1000003)) * F.lit(2654435761), F.lit(1000003)),
        F.lit(1000),
    )
    rate = F.lit(0)
    for k, v in _STRATA.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return d.filter(slot < rate).select("doc_id", "lang")


@register(
    "etl_reaggregate",
    oracle=f"""
SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sql_rnd("CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100", 2)} AS val
FROM events
GROUP BY 1
""",
    tier="T2",
)
def etl_reaggregate(spark, sf_dir):
    """Partial-aggregate mergeability: MONTHLY totals computed by rolling up
    DAILY partials (sum of sums / sum of counts) — and the oracle computes
    monthly directly from raw events. They match only because the partials
    are exact integer units; this is why incremental pipelines (daily jobs
    feeding monthly marts) need conform-style aggregates at 100 TB."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("cents"),
    )
    return daily.groupBy(F.date_trunc("month", F.col("day")).alias("month")).agg(
        F.sum("n").alias("n"),
        rnd(F.sum("cents").cast("double") / F.lit(100), 2).alias("val"),
    )


from .llm_dedup import _JACCARD_SQL  # noqa: E402  (shared edge definition)

_CC_SQL = f"""
WITH RECURSIVE jac AS ({_JACCARD_SQL}),
adj AS (
  SELECT d1 AS src, d2 AS dst FROM jac
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM jac
),
reach(node, comp) AS (
  SELECT src, src FROM adj
  UNION
  SELECT a.src, r.comp FROM adj a JOIN reach r ON a.dst = r.node
)
SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY node
"""


@register("dedup_connected_components", oracle=_CC_SQL, tier="T2")
def dedup_connected_components(spark, sf_dir):
    """Transitive near-dup groups: connected components over the Jaccard≥0.8
    pair graph via min-label propagation iterated to a fixed point.

    Each doc's component id converges to the minimum doc_id reachable
    through near-dup pairs — the canonical 'cluster then keep one' dedup.
    Deterministic integer output, so it IS oracle-checkable: the DuckDB twin
    computes min-reachable-label exactly with a recursive transitive-closure
    CTE (UNION-dedup keeps it finite).

    Scale note: label propagation is a self-join per iteration on the pair
    graph (tiny relative to the corpus); the fixed-point check is one count
    per iteration on that same small table, and localCheckpoint truncates
    the iterative lineage — the corpus-sized input is never re-scanned after
    the edge list is materialized. Hard cap on iterations = 50 (graph
    diameter; near-dup clusters are shallow in practice).
    """
    from ..ops.dedup import shingle_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs, jac = shingle_jaccard_pairs(d)
    edges = pairs.filter(jac >= 0.8).select("d1", "d2").transform(materialize)
    # undirected adjacency
    adj = (
        edges.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .unionByName(edges.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    )
    nodes = adj.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("comp")).transform(materialize)
    for _ in range(50):
        neigh = (
            adj.join(labels, adj.src == labels.node)
            .select(F.col("dst").alias("node"), "comp")
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .transform(materialize)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))


@register(
    "etl_observe_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
         AS sum_value,
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM events
""",
    tier="T2",
)
def etl_observe_metrics(spark, sf_dir):
    """Pipeline observability via df.observe(): data-quality counters
    (row count, exact-cent value sum, negative-value count) accumulate as a
    side effect of a job that is ALREADY running — at 100 TB this is how a
    pipeline gets per-batch quality gates without paying a second scan.

    The observed job here is a noop-sink materialization; the metrics row
    it emits is oracle-checked against the plain aggregates."""
    from pyspark.sql import Observation

    e = load(spark, sf_dir, "events")
    obs = Observation("quality_gate")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * F.lit(100) + F.lit(0.5))).alias("sc"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n"]), float(m["sc"]) / 100.0, int(m["neg"]))],
        "n_rows bigint, sum_value double, n_negative bigint",
    )


@register(
    "etl_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 7 <> 0
), new AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
           + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents
  FROM orders
)
SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN old.cents <> new.cents THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       COUNT(*) AS n,
       CAST(SUM(COALESCE(new.cents, 0) - COALESCE(old.cents, 0)) AS BIGINT) AS cents_delta
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
GROUP BY 1
""",
    tier="T2",
)
def etl_snapshot_diff(spark, sf_dir):
    """CDC-style snapshot diff: full-outer join two table versions on the
    business key and classify every row added / removed / changed /
    unchanged, with the net value delta. The daily "what moved?" audit
    between two warehouse loads. Versions are simulated from orders (rows
    missing from the old snapshot; +$1.00 updates on keys % 5 = 0); prices
    compare as exact integer cents so 'changed' is never a float artifact.

    Scale note: one shuffle on the business key; at 100 TB both snapshots
    should be bucketed on that key so the diff is shuffle-free (see
    join_bucketed_colocate).
    """
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    old = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k_old"), cents.alias("c_old")
    )
    new = o.select(
        F.col("o_orderkey").alias("k_new"),
        (
            cents
            + F.when(F.col("o_orderkey") % 5 == 0, F.lit(100)).otherwise(F.lit(0))
        ).alias("c_new"),
    )
    joined = old.join(new, old["k_old"] == new["k_new"], "full_outer")
    change = (
        F.when(F.col("k_old").isNull(), F.lit("added"))
        .when(F.col("k_new").isNull(), F.lit("removed"))
        .when(F.col("c_old") != F.col("c_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.groupBy(change.alias("change_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.coalesce("c_new", F.lit(0)) - F.coalesce("c_old", F.lit(0))
        ).alias("cents_delta"),
    )


@register(
    "etl_winsorize",
    oracle="""
WITH th AS (
  SELECT l_returnflag,
         FLOOR(quantile_cont(l_extendedprice, 0.05) * 100 + 0.5) AS lo_c,
         FLOOR(quantile_cont(l_extendedprice, 0.95) * 100 + 0.5) AS hi_c
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN c < lo_c THEN 1 ELSE 0 END) AS BIGINT) AS clipped_low,
       CAST(SUM(CASE WHEN c > hi_c THEN 1 ELSE 0 END) AS BIGINT) AS clipped_high,
       CAST(SUM(LEAST(GREATEST(c, lo_c), hi_c)) AS DOUBLE) / 100 AS wins_sum
FROM (SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem) l
JOIN th ON l.l_returnflag = th.l_returnflag
GROUP BY l.l_returnflag
""",
    tier="T2",
)
def etl_winsorize(spark, sf_dir):
    """Winsorized (p05/p95-clipped) revenue per return flag — the standard
    outlier-robust pre-aggregation before fitting quality thresholds on a
    corpus metric. Thresholds are exact interpolated percentiles HALF-UP
    ROUNDED TO CENTS in both engines, so every clip comparison happens on
    exact integers — no float-boundary flips at the clip points.

    Scale note: one percentile pass (small per-group state), broadcast the
    tiny threshold table back, one more scan to clip+sum. At 100 TB swap
    percentile → approx_percentile and keep the same plan shape.
    """
    li = load(spark, sf_dir, "lineitem")
    th = li.groupBy("l_returnflag").agg(
        F.floor(F.percentile("l_extendedprice", F.lit(0.05)) * 100 + F.lit(0.5)).alias("lo_c"),
        F.floor(F.percentile("l_extendedprice", F.lit(0.95)) * 100 + F.lit(0.5)).alias("hi_c"),
    )
    c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    j = li.select("l_returnflag", c.alias("c")).join(F.broadcast(th), "l_returnflag")
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("c") < F.col("lo_c"), 1).otherwise(0)).alias("clipped_low"),
        F.sum(F.when(F.col("c") > F.col("hi_c"), 1).otherwise(0)).alias("clipped_high"),
        (
            F.sum(F.least(F.greatest(F.col("c"), F.col("lo_c")), F.col("hi_c"))).cast("double")
            / 100
        ).alias("wins_sum"),
    )


@register(
    "etl_data_expectations",
    oracle="""
SELECT 'c_custkey_unique' AS constraint,
       CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) AS violations FROM customer
UNION ALL
SELECT 'c_name_complete',
       CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer
UNION ALL
SELECT 'c_mktsegment_domain',
       CAST(SUM(CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
                THEN 0 ELSE 1 END) AS BIGINT) FROM customer
UNION ALL
SELECT 'c_nationkey_range',
       CAST(SUM(CASE WHEN c_nationkey BETWEEN 0 AND 24 THEN 0 ELSE 1 END) AS BIGINT) FROM customer
UNION ALL
SELECT 'c_custkey_positive',
       CAST(SUM(CASE WHEN c_custkey > 0 THEN 0 ELSE 1 END) AS BIGINT) FROM customer
""",
    tier="T2",
)
def etl_data_expectations(spark, sf_dir):
    """Deequ-style expectation suite: uniqueness, completeness, value-domain,
    range, and sign constraints evaluated in ONE scan, reported as
    (constraint, violations) rows — violations are exact integers, and a
    gate is simply `max(violations) = 0`.

    Scale note: all five checks fold into a single aggregate over one pass
    of the table (no per-constraint scans); COUNT(DISTINCT) is the only
    shuffle-bearing term. At 100 TB swap it for approx_count_distinct and
    assert |approx - count| under tolerance instead.
    """
    cst = load(spark, sf_dir, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    one = cst.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("c_custkey"))).alias("c_custkey_unique"),
        F.sum(F.when(F.col("c_name").isNull(), 1).otherwise(0)).alias("c_name_complete"),
        F.sum(F.when(F.col("c_mktsegment").isin(segs), 0).otherwise(1)).alias(
            "c_mktsegment_domain"
        ),
        F.sum(F.when(F.col("c_nationkey").between(0, 24), 0).otherwise(1)).alias(
            "c_nationkey_range"
        ),
        F.sum(F.when(F.col("c_custkey") > 0, 0).otherwise(1)).alias("c_custkey_positive"),
    )
    names = [
        "c_custkey_unique",
        "c_name_complete",
        "c_mktsegment_domain",
        "c_nationkey_range",
        "c_custkey_positive",
    ]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    return one.select(
        F.expr(f"stack({len(names)}, {stack}) AS (constraint, violations)")
    ).select("constraint", F.col("violations").cast("bigint").alias("violations"))


_CANON_SQL = f"""
WITH RECURSIVE jac AS ({_JACCARD_SQL}),
adj AS (
  SELECT d1 AS src, d2 AS dst FROM jac
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM jac
),
reach(node, comp) AS (
  SELECT src, src FROM adj
  UNION
  SELECT a.src, r.comp FROM adj a JOIN reach r ON a.dst = r.node
),
cc AS (SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY node),
j AS (
  SELECT cc.doc_id, cc.component, d.n_chars
  FROM cc JOIN documents d ON cc.doc_id = d.doc_id
)
SELECT doc_id, component,
       FIRST_VALUE(doc_id) OVER (PARTITION BY component
                                 ORDER BY n_chars DESC, doc_id) AS canonical_id,
       doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY component
                                          ORDER BY n_chars DESC, doc_id) AS kept
FROM j
"""


@register("dedup_cluster_canonical", oracle=_CANON_SQL, tier="T2")
def dedup_cluster_canonical(spark, sf_dir):
    """Survivor selection per near-dup cluster — the step after
    dedup_connected_components in a real corpus-dedup pass: within each
    component, the canonical document is the longest text (tiebreak: min
    doc_id); every member row carries its component, the canonical id, and
    a kept flag so the downstream filter is a plain `WHERE kept`.

    Scale note: reuses the label-propagation components (pair-graph sized,
    tiny vs the corpus), one broadcast-friendly join back to documents for
    the length attribute, one window partitioned by component (dup clusters
    are small by construction, no skewed single reducer).
    """
    from pyspark.sql.window import Window

    cc = dedup_connected_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = cc.join(d, "doc_id")
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), "doc_id")
    canon = F.first("doc_id").over(w)
    return j.select(
        "doc_id",
        "component",
        canon.alias("canonical_id"),
        (F.col("doc_id") == canon).alias("kept"),
    )


@register(
    "etl_pseudonymize",
    oracle=f"""
SELECT md5('pepper1:' || CAST(user_id AS VARCHAR)) AS user_pseudonym,
       event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       {sql_rnd('value', 2)} AS value
FROM events
""",
    tier="T2",
)
def etl_pseudonymize(spark, sf_dir):
    """Privacy-preserving event export: user ids become stable keyed-hash
    pseudonyms (same user → same token across runs and engines, but not
    reversible without the pepper) and timestamps coarsen to day
    granularity — the minimization transform a training-data export
    pipeline applies before events leave the trust boundary.

    Scale note: pure map-side projection (md5 + date_trunc in JVM codegen),
    zero shuffles; the pepper is a literal here, a secret-manager lookup in
    production. Re-keying a 100 TB history is a full rewrite, so peppers
    version with the dataset snapshot.
    """
    e = load(spark, sf_dir, "events")
    return e.select(
        F.md5(F.concat(F.lit("pepper1:"), F.col("user_id").cast("string"))).alias(
            "user_pseudonym"
        ),
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        rnd(F.col("value"), 2).alias("value"),
    )


@register(
    "etl_forget_users",
    oracle="""
WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
kept AS (
  SELECT e.* FROM events e LEFT JOIN del ON e.user_id = del.user_id
  WHERE del.user_id IS NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM events) 
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_deleted_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM del) AS n_users_forgotten
FROM kept
GROUP BY event_type
""",
    tier="T2",
)
def etl_forget_users(spark, sf_dir):
    """Right-to-be-forgotten deletion pass: drop every event belonging to a
    deletion list of users (here the deterministic user_id % 97 == 0
    cohort), emit per-type surviving counts plus a global audit record
    (rows deleted, users forgotten) — the governance op a training-data
    platform must run before each corpus snapshot.

    Scale note: the deletion list is tiny relative to the corpus →
    broadcast LEFT ANTI join, so the 100 TB fact side never shuffles; the
    audit scalars are broadcast 1-row aggregates (the scalar-subquery
    pattern). With a real table format the anti-join becomes MERGE DELETE
    plus a file-rewrite of only the affected partitions.
    """
    e = load(spark, sf_dir, "events")
    del_list = e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    kept = e.join(F.broadcast(del_list), "user_id", "left_anti")
    totals = (
        e.agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(kept.agg(F.count(F.lit(1)).alias("n_kept_total"))))
        .crossJoin(F.broadcast(del_list.agg(F.count(F.lit(1)).alias("n_users"))))
        .select(
            (F.col("n_events") - F.col("n_kept_total")).alias("n_deleted_total"),
            F.col("n_users").alias("n_users_forgotten"),
        )
    )
    return (
        kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .crossJoin(F.broadcast(totals))
        .select("event_type", "n_kept", "n_deleted_total", "n_users_forgotten")
    )


@register(
    "etl_cdc_apply",
    oracle="""
WITH log AS (
  SELECT o_custkey AS key,
         o_orderdate AS seq_ts, o_orderkey AS seq_id,
         CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS val_cents
  FROM orders
),
ranked AS (
  SELECT key, op, val_cents, seq_id,
         ROW_NUMBER() OVER (PARTITION BY key
                            ORDER BY seq_ts DESC, seq_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY key) AS n_ops
  FROM log
)
SELECT key AS custkey,
       CAST(val_cents AS DOUBLE) / 100 AS last_value,
       seq_id AS last_seq,
       CAST(n_ops AS BIGINT) AS n_ops
FROM ranked
WHERE rn = 1 AND op <> 'D'
""",
    tier="T2",
)
def etl_cdc_apply(spark, sf_dir):
    """Apply a change-data-capture log: each order is an upsert ('U') or a
    delete ('D' — the deterministic orderkey % 13 cohort) keyed by
    customer; latest change wins by (event time, change id), and a key
    whose final op is a delete vanishes from the materialized state. The
    complement to etl_merge_upsert (single-batch MERGE) and etl_scd2 (full
    history): this is the compact-to-latest-state pass a CDC sink runs.

    Scale note: one shuffle on the key; ROW_NUMBER + the per-key count
    share a single window partition/sort (no second exchange). On a real
    100 TB CDC stream you'd run exactly this as foreachBatch MERGE with
    the log pre-bucketed by key so the window sort is partition-local.
    """
    o = load(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").alias("seq_ts"),
        F.col("o_orderkey").alias("seq_id"),
        F.when(F.col("o_orderkey") % 13 == 0, "D").otherwise("U").alias("op"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("val_cents"),
    )
    w = Window.partitionBy("key").orderBy(F.col("seq_ts").desc(), F.col("seq_id").desc())
    wc = Window.partitionBy("key")
    ranked = log.select(
        "key",
        "op",
        "val_cents",
        "seq_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        F.col("key").alias("custkey"),
        (F.col("val_cents").cast("double") / 100).alias("last_value"),
        F.col("seq_id").alias("last_seq"),
        F.col("n_ops").alias("n_ops"),
    )


_KANON_K = 5
# quasi-identifier tuple: segment × nation × coarse balance bucket
_KANON_BUCKET = "CAST(FLOOR(c_acctbal / 1000) AS BIGINT)"

_KANON_SQL = f"""
WITH cells AS (
  SELECT c_mktsegment, c_nationkey, {_KANON_BUCKET} AS bal_bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer
  GROUP BY 1, 2, 3
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_cells,
       CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT) AS n_rows_to_suppress,
       CAST(MIN(n) AS BIGINT) AS min_cell,
       (FLOOR(CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS DOUBLE)
              / SUM(n) * 1000000 + 0.5) / 1000000) AS suppression_rate
FROM cells
GROUP BY c_mktsegment
"""


@register("etl_k_anonymity", oracle=_KANON_SQL, tier="T2")
def etl_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (segment, nation, $1000-balance-bucket): per-segment cell counts,
    violating cells (size < k), rows that would need suppression or
    coarsening, and the suppression rate — the release gate that runs
    after etl_pseudonymize and before a dataset leaves the trust boundary
    (pseudonyms alone don't stop a quasi-identifier linkage attack).

    Determinism: pure integer counts; the single rate divides once and
    half-up rounds to 6dp.

    Scale note: two chained map-side-combinable aggregates (cell counts,
    then per-segment rollup) — shuffles carry |cells| rows, never the
    table; at 100 TB the QI tuple is the natural partition key and hot
    cells are exactly the SAFE ones (big n), so no skew concern.
    """
    c = load(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.expr(_KANON_BUCKET).alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    viol = F.when(F.col("n") < _KANON_K, 1).otherwise(0)
    viol_rows = F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(F.lit(0))
    return cells.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(viol).alias("n_violating_cells"),
        F.sum(viol_rows).alias("n_rows_to_suppress"),
        F.min("n").alias("min_cell"),
        (
            F.floor(
                F.sum(viol_rows).cast("double") / F.sum("n") * 1000000 + F.lit(0.5)
            )
            / 1000000
        ).alias("suppression_rate"),
    )


from ..conform import poly_hash, sql_poly_hash_duck  # noqa: E402

# canonical row serialization for the checksum: fixed column order, fixed
# separator, cents-exact money rendering (float->string formatting differs
# between engines; integers do not)
_CKSUM_ROW = (
    "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' "
    "|| CAST(c_nationkey AS VARCHAR) || '|' "
    "|| CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR)"
)

_CKSUM_SQL = f"""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM({sql_poly_hash_duck(f"({_CKSUM_ROW})")}) AS BIGINT) AS checksum
FROM customer
GROUP BY c_mktsegment
"""


@register("etl_table_checksum", oracle=_CKSUM_SQL, tier="T2")
def etl_table_checksum(spark, sf_dir):
    """Replication-audit checksum: per-segment row count plus an
    ORDER-INDEPENDENT content checksum (sum of portable per-row hashes
    over a canonical serialization) — compare source and replica without
    moving either table; any single-cell change moves the sum.

    Determinism: the row serialization renders money as integer cents
    (float→string formatting is engine-specific; integer rendering is
    not); conform.poly_hash gives both engines the same int64 per row,
    and the SUM is exact (hash < 1e9+7, rows ≤ ~1.5e7 at sf100 →
    ≤ ~1.5e16 « 2^63) and summation-order independent.

    Scale note: map-only hash + one map-side-combinable aggregate —
    the cheapest possible full-table integrity pass; at 100 TB you run
    it per partition and compare partition-level sums to localize a
    divergence.
    """
    c = load(spark, sf_dir, "customer")
    row = (
        "CAST(c_custkey AS STRING) || '|' || c_name || '|' "
        "|| CAST(c_nationkey AS STRING) || '|' "
        "|| CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS STRING)"
    )
    h = poly_hash(f"({row})")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).cast("long").alias("checksum"),
    )


_REF_EDGES = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _ref_audit_sql() -> str:
    parts = []
    for name, child, fk, parent, pk in _REF_EDGES:
        parts.append(
            f"""
SELECT '{name}' AS fk_edge,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_rows,
       (SELECT CAST(COUNT(DISTINCT {fk}) AS BIGINT) FROM {child}) AS n_fk_keys,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
         AS n_orphans"""
        )
    return " UNION ALL ".join(parts)


@register("etl_referential_audit", oracle=_ref_audit_sql(), tier="T2")
def etl_referential_audit(spark, sf_dir):
    """Referential-integrity audit over the whole star schema: for each FK
    edge, child row count, distinct FK count, and orphan rows (child keys
    with no parent) — the nightly data-quality gate a warehouse runs before
    publishing a snapshot (complements etl_data_expectations, which checks
    per-column value contracts).

    Scale note: each orphan check is a LEFT ANTI hash join against the
    (small) parent key set — dims broadcast, the fact-side anti joins on
    the pre-aggregated distinct FK projection; no full-row shuffle. The
    six per-edge scalar rows are unioned lazily into one plan so the
    driver fires a single job.
    """
    out = None
    for name, child, fk, parent, pk in _REF_EDGES:
        c = load(spark, sf_dir, child).select(F.col(fk).alias("fk"))
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("pk")).distinct()
        stats = c.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("fk").cast("long").alias("n_fk_keys"),
        )
        orphans = (
            c.join(F.broadcast(p), c["fk"] == p["pk"], "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )
        edge = (
            stats.join(F.broadcast(orphans))
            .select(F.lit(name).alias("fk_edge"), "n_rows", "n_fk_keys", "n_orphans")
        )
        out = edge if out is None else out.unionByName(edge)
    return out


@register(
    "etl_freshness_audit",
    oracle="""
WITH mx AS (SELECT MAX(ts) AS global_max FROM events)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MAX(e.ts) AS latest_ts,
       CAST(datediff('second', MAX(e.ts), mx.global_max) AS BIGINT)
         AS lag_seconds,
       CAST(SUM(CASE WHEN e.ts >= mx.global_max - INTERVAL 1 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS rows_last_day,
       CAST(SUM(CASE WHEN e.ts >= mx.global_max - INTERVAL 7 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS rows_last_7d
FROM events e CROSS JOIN mx
GROUP BY e.event_type, mx.global_max
""",
    tier="T2",
)
def etl_freshness_audit(spark, sf_dir):
    """Per-stream freshness / SLA audit — the first dashboard every
    ingestion pipeline grows: for each event stream, its latest watermark,
    how far it lags the freshest stream (a stalled producer shows up as a
    big lag with flat recent counts), and 1-day/7-day arrival volumes.
    Windows anchor on the GLOBAL max timestamp, not wall clock, so the
    audit is reproducible on any snapshot.

    Determinism: exact counts, exact µs timestamp max, integer second
    lag. Scale note: one pass computes the global max (1-row broadcast,
    audited crossJoin pattern), one partial+final aggregate per stream —
    the CASE counters combine map-side, so the fact stream shuffles only
    5 aggregate rows.
    """
    e = load(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("global_max"))
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("event_type", "global_max")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.max("ts").alias("latest_ts"),
            F.sum(
                F.when(
                    F.col("ts") >= F.col("global_max") - F.expr("INTERVAL 1 DAY"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("rows_last_day"),
            F.sum(
                F.when(
                    F.col("ts") >= F.col("global_max") - F.expr("INTERVAL 7 DAY"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("rows_last_7d"),
        )
        .select(
            "event_type",
            "n_rows",
            "latest_ts",
            (F.unix_timestamp("global_max") - F.unix_timestamp("latest_ts"))
            .cast("long")
            .alias("lag_seconds"),
            "rows_last_day",
            "rows_last_7d",
        )
    )


@register(
    "etl_subject_access_report",
    oracle="""
WITH subject AS (
  SELECT user_id FROM events
  GROUP BY user_id ORDER BY COUNT(*) DESC, user_id LIMIT 1
)
SELECT 'events' AS entity,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(ts) AS first_seen, MAX(ts) AS last_seen
FROM events e JOIN subject s ON e.user_id = s.user_id
UNION ALL
SELECT 'purchases',
       CAST(COUNT(*) FILTER (WHERE e.event_type = 'purchase') AS BIGINT),
       MIN(ts) FILTER (WHERE e.event_type = 'purchase'),
       MAX(ts) FILTER (WHERE e.event_type = 'purchase')
FROM events e JOIN subject s ON e.user_id = s.user_id
""",
    tier="T2",
)
def etl_subject_access_report(spark, sf_dir):
    """Data-subject access report (GDPR Art. 15 — the read half of
    etl_forget_users' erasure): every record held about one subject,
    summarized per entity with first/last-seen timestamps. The subject is
    chosen deterministically (most-active user, id tiebreak) so the
    report is reproducible on any snapshot.

    Determinism: exact counts and µs timestamps; the subject selection is
    a total-order top-1. Scale note: the subject key broadcasts into a
    semi-join against each entity scan (at 100 TB this is ONE pruned
    probe per table, the same shape as the erasure pass); per-entity
    summaries union into one lazy plan like etl_referential_audit.
    """
    e = load(spark, sf_dir, "events")
    subject = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(1)
        .select("user_id")
    )
    mine = e.join(F.broadcast(subject), "user_id")
    ev = mine.agg(
        F.lit("events").alias("entity"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )
    pur = mine.filter(F.col("event_type") == "purchase").agg(
        F.lit("purchases").alias("entity"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )
    return ev.unionAll(pur)


_CHAIN_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM((o_orderkey * 31 + CAST(FLOOR(o_totalprice * 100 + 0.5)
                                          AS BIGINT)) % 1000000007)
              AS BIGINT) % 1000000007 AS day_sum
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
),
ser AS (
  SELECT list(day ORDER BY day) AS days,
         list(day_sum ORDER BY day) AS sums
  FROM daily
),
chain AS (
  SELECT days, sums,
         list_transform(generate_series(1, len(sums)),
           i -> CAST(list_reduce(
                  list_prepend(CAST(7 AS BIGINT), sums[1:i]),
                  (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT)) AS h
  FROM ser
)
SELECT unnest(days) AS day, unnest(sums) AS day_checksum,
       unnest(h) AS chain_hash
FROM chain
"""


@register("etl_audit_chain", oracle=_CHAIN_SQL, tier="T2")
def etl_audit_chain(spark, sf_dir):
    """Tamper-evident audit chain over daily partitions: each day gets an
    order-independent checksum (sum of per-row hashes mod p — the
    etl_table_checksum recipe at day grain), then a HASH CHAIN folds the
    day-ordered checksums (h_i = 31·h_{i−1} + c_i mod p) so editing ANY
    historical day changes every subsequent chain value — the
    append-only-ledger property compliance auditors want from immutable
    raw zones, with O(1) state per day.

    Determinism: all arithmetic is exact int64 mod 1e9+7 (acc·31 + c <
    2^35); the chain folds the day-ordered list identically in both
    engines; per-day checksums are order-independent sums so partitioning
    never matters. Scale note: one day-grain aggregate (map-side
    combinable), then an in-row fold over the calendar-bounded day list;
    verifying an incremental load = recompute ONE day + extend the chain.
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        (
            F.sum(
                (
                    F.col("o_orderkey") * 31
                    + F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
                )
                % F.lit(1000000007)
            )
            % F.lit(1000000007)
        )
        .cast("long")
        .alias("day_sum")
    )
    ser = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "day_sum"))).alias("s")
    ).select(
        F.expr("transform(s, v -> v.day)").alias("days"),
        F.expr("transform(s, v -> v.day_sum)").alias("sums"),
    )
    chain = ser.select(
        "days",
        "sums",
        F.expr(
            "transform(sequence(1, size(sums)),"
            " i -> aggregate(slice(sums, 1, i), CAST(7 AS BIGINT),"
            " (acc, x) -> (acc * 31 + x) % 1000000007))"
        ).alias("h"),
    )
    return chain.select(
        F.expr("explode(arrays_zip(days, sums, h))").alias("z")
    ).select(
        F.col("z.days").alias("day"),
        F.col("z.sums").alias("day_checksum"),
        F.col("z.h").alias("chain_hash"),
    )


@register(
    "etl_incremental_high_watermark",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COALESCE(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)), 0) AS BIGINT)
         AS sum_value_cents
FROM events GROUP BY user_id
""",
    tier="T2",
)
def etl_incremental_high_watermark(spark, sf_dir):
    """High-watermark incremental ingestion, proven equivalent to a full
    recompute: the event stream is split at a deterministic watermark (the
    integer midpoint of [min ts, max ts] in epoch microseconds), each half
    is aggregated per user as an independent "run", and the two increments
    merge by summing partials — the pattern every incremental ETL uses,
    with the merge exactness ASSERTED in-key (merged ≡ full one-shot
    aggregate, exceptAll both ways empty) before returning the merged
    table. The oracle is the full recompute, so the hash check certifies
    the increments lost nothing at the boundary (ties at ts == watermark
    land in exactly one run: <= goes to run 1, > to run 2).

    Scale note: counts and cent-sums are the algebraic (partial-mergeable)
    aggregates; each run is one map-side-combinable shuffle over only its
    increment — at 100 TB run 2 touches only new partitions, which is the
    point of the watermark. The in-key assertion adds one exceptAll pass
    at test scale only.
    """
    e = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    )
    wm = e.crossJoin(F.broadcast(bounds)).withColumn(
        "in_run1", F.unix_micros("ts") <= F.expr("lo + (hi - lo) DIV 2")
    )
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def run_agg(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias("sum_value_cents"),
        )

    run1 = run_agg(wm.filter(F.col("in_run1")))
    run2 = run_agg(wm.filter(~F.col("in_run1")))
    merged = (
        run1.unionByName(run2)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value_cents").cast("long").alias("sum_value_cents"),
        )
    )
    full = run_agg(e)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0
    return merged


# ---------------------------------------------------------- DQ quarantine

_DQ_SQL = """
WITH flagged AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         (CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END)
       + (CASE WHEN o_orderdate >= TIMESTAMP '2001-01-01' THEN 2 ELSE 0 END)
       + (CASE WHEN o_orderstatus = 'P' THEN 4 ELSE 0 END)
       + (CASE WHEN o_orderpriority NOT IN
               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
               OR o_orderpriority IS NULL THEN 8 ELSE 0 END) AS mask
  FROM orders
)
SELECT mask,
       CASE WHEN mask = 0 THEN 0 ELSE 1 END AS quarantined,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM flagged
GROUP BY mask
ORDER BY mask
"""


@register("etl_dq_quarantine", oracle=_DQ_SQL, tier="T2")
def etl_dq_quarantine(spark, sf_dir):
    """Row-level data-quality quarantine: every order gets a rule BITMASK
    (bit 1 price outlier >400k, bit 2 past the retention cutoff, bit 4
    stuck-pending status, bit 8 priority outside the canonical domain /
    NULL), and the output is the per-mask routing summary — mask 0 flows to
    the clean sink, everything else to quarantine WITH the reason bits
    preserved, which is what lets an operator fix-and-replay by rule.
    Complements etl_data_expectations (aggregate violation counts): this is
    the row-router, that is the gate.

    Determinism: the mask is pure integer CASE arithmetic; sums are exact
    int64 cents. NULL-safe by construction: a NULL priority lands in bit 8
    explicitly rather than silently passing the NOT IN (three-valued-logic
    hazard — NULL NOT IN (...) is NULL, filtered out, in BOTH engines, so
    the OR IS NULL arm is required on both sides).

    Scale: one scan, one partial+final aggregate on a ≤16-value key. The
    real pipeline writes two sinks from the same flagged frame
    (partitionBy("quarantined")) — the summary here is the audit artifact.
    """
    o = load(spark, sf_dir, "orders")
    flagged = o.select(
        "o_orderkey",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
        (
            F.when(F.col("o_totalprice") > 400000, 1).otherwise(0)
            + F.when(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"), 2).otherwise(0)
            + F.when(F.col("o_orderstatus") == "P", 4).otherwise(0)
            + F.when(
                ~F.col("o_orderpriority").isin(
                    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
                )
                | F.col("o_orderpriority").isNull(),
                8,
            ).otherwise(0)
        ).alias("mask"),
    )
    return (
        flagged.groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        .select(
            "mask",
            F.when(F.col("mask") == 0, 0).otherwise(1).alias("quarantined"),
            "n_rows",
            "sum_cents",
            "min_key",
            "max_key",
        )
        .orderBy("mask")
    )


# --- Incremental (asymmetric) dedup (round 9) --------------------------------
# The production curation shape for a daily crawl increment: dedupe the NEW
# batch against the EXISTING corpus only — no base×base pairs (the corpus is
# already deduped), no increment×increment pairs (a separate intra-batch
# pass). The asymmetry is the whole point at 100 TB: the join fan-out is
# |increment| × (shared-posting density), never |corpus|².
_INC_FRAC = 0.5  # split point: doc_id <= floor(max*frac) = base, rest = incoming
_INC_K = 5
_INC_TAU = 0.8

_INC_SQL = f"""
WITH s AS (SELECT CAST(FLOOR(MAX(doc_id) * {_INC_FRAC}) AS BIGINT) AS sp
           FROM documents),
docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
exact AS (
  SELECT i.doc_id, MIN(b.doc_id) AS matched_doc
  FROM docs i JOIN docs b ON md5(i.text) = md5(b.text)
  WHERE i.doc_id > (SELECT sp FROM s) AND b.doc_id <= (SELECT sp FROM s)
  GROUP BY i.doc_id
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - {_INC_K - 1}, 1)),
           i -> array_to_string(list_slice(string_split(text, ' '),
                                           i, i + {_INC_K - 1}), ' ')))) AS g
  FROM docs
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS i_doc, b.doc_id AS b_doc, CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.g = b.g
  WHERE a.doc_id > (SELECT sp FROM s) AND b.doc_id <= (SELECT sp FROM s)
  GROUP BY 1, 2
),
near AS (
  SELECT i_doc AS doc_id, b_doc AS matched_doc,
         CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jac,
         row_number() OVER (
           PARTITION BY i_doc
           ORDER BY CAST(inter AS DOUBLE) / (x.n + y.n - inter) DESC, b_doc
         ) AS rk
  FROM pairs JOIN sz x ON i_doc = x.doc_id JOIN sz y ON b_doc = y.doc_id
  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= {_INC_TAU}
)
SELECT i.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'novel' END AS verdict,
       CASE WHEN e.doc_id IS NOT NULL THEN e.matched_doc
            ELSE n.matched_doc END AS matched_doc,
       CASE WHEN e.doc_id IS NOT NULL THEN NULL
            ELSE {sql_rnd('n.jac', 4)} END AS jaccard
FROM docs i
LEFT JOIN exact e ON i.doc_id = e.doc_id
LEFT JOIN (SELECT * FROM near WHERE rk = 1) n ON i.doc_id = n.doc_id
WHERE i.doc_id > (SELECT sp FROM s)
"""


@register("etl_incremental_dedup", oracle=_INC_SQL, tier="T2")
def etl_incremental_dedup(spark, sf_dir):
    """Asymmetric incremental dedup: classify every document of an incoming
    batch (doc_id above the 50% split point, standing in for today's
    crawl) against the existing corpus only — `exact_dup` on content-hash
    match (lowest matching base doc), else `near_dup` on 5-shingle Jaccard
    >= 0.8 (best base match: highest Jaccard, then lowest doc_id), else
    `novel`. No base×base and no increment×increment pairs are ever formed.

    Determinism: the near-dup ranking orders by an exact-integer-derived
    ratio (IEEE division of identical int64 operands is correctly rounded,
    so equal rationals compare equal in both engines) with doc_id
    tie-break; exact matches take precedence over near matches.

    Scale note: the exact arm is a hash-equi-join on md5 (shuffle carries
    32-byte digests, not texts); the near arm is the capped posting-list
    inverted index (shingles hashed to int64 slices, base-side df-cap 500
    — the dedup_near_exact_jaccard machinery) restricted to cross-split
    pairs BEFORE the pair explosion, so increment-vs-corpus fan-out is
    posting-density-bounded. The split scalar is one broadcast 1-row
    aggregate (audited BNLJ). At 100 TB the base postings/hashes are a
    PERSISTED index the daily job reads, not recomputes — the split here
    stands in for that storage seam.
    """
    raw = load(spark, sf_dir, "documents")
    d = raw.filter(F.col("text").isNotNull())
    # split point over the UNFILTERED table: doc_id assignment is metadata,
    # so a NULL-text doc still advances the watermark (oracle's `s` CTE
    # reads documents unfiltered — the null_text drift probe caught the
    # filtered-frame version diverging when NULL-text rows carry the
    # highest ids)
    #
    # Round-11 optimization (guide §1.2/§6): the split point is ONE
    # deterministic scalar, but spelling it as a broadcast 1-row
    # crossJoin re-ran the scan+max-aggregate+BNLJ subtree at every use
    # of base/inc — 7 copies in the physical plan. Collect the bounded
    # scalar once (as graph_kcore collects k) and inline it as a
    # literal: base/inc become plain range filters the parquet scan can
    # push down (PushedFilters on doc_id -> row-group pruning), and the
    # 7 BNLJ subtrees disappear. An empty table yields a NULL split
    # (comparisons then drop every row), exactly the old crossJoin-NULL
    # semantics.
    sp_val = raw.agg(
        F.floor(F.max("doc_id") * F.lit(_INC_FRAC)).cast("long").alias("sp")
    ).collect()[0]["sp"]
    sp_lit = F.lit(sp_val).cast("long")
    base = d.filter(F.col("doc_id") <= sp_lit).select("doc_id", "text")
    inc = d.filter(F.col("doc_id") > sp_lit).select("doc_id", "text")

    exact = (
        inc.select("doc_id", F.md5("text").alias("h"))
        .join(
            base.select(F.col("doc_id").alias("b_doc"), F.md5("text").alias("h")),
            "h",
        )
        .groupBy("doc_id")
        .agg(F.min("b_doc").cast("long").alias("e_matched"))
    )

    def _sh(frame):
        # int64 slice-hash shingles (ops.dedup recipe: tokens contain no
        # spaces, so slice equality <=> joined-string equality; the string
        # oracle diverges only on a real 64-bit collision)
        return frame.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"element_at(transform(array(split(text, ' ')), a ->"
                        f" transform(sequence(1, greatest(size(a) - {_INC_K - 1}, 1)),"
                        f"   i -> xxhash64(slice(a, i, {_INC_K})))), 1)"
                    )
                )
            ).alias("g"),
        )

    sh_b, sh_i = _sh(base), _sh(inc)
    sz_b = sh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sz_i = sh_i.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # df-cap on the BASE posting side: a stop-phrase shingle shared by
    # hundreds of corpus docs carries no near-dup signal and would own the
    # pair fan-out (the shingle_jaccard_pairs straggler rule)
    post_b = (
        sh_b.groupBy("g")
        .agg(F.slice(F.array_sort(F.collect_list("doc_id")), 1, 500).alias("bs"))
        .select("g", F.explode("bs").alias("b_doc"))
    )
    pairs = (
        sh_i.join(post_b, "g")
        .groupBy(F.col("doc_id"), F.col("b_doc"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("ni") + F.col("nb") - F.col("inter")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("jac").desc(), "b_doc")
    near = (
        pairs.join(sz_i.withColumnRenamed("n", "ni"), "doc_id")
        .join(
            sz_b.select(F.col("doc_id").alias("b_doc"), F.col("n").alias("nb")),
            "b_doc",
        )
        .withColumn("jac", jac)
        .filter(F.col("jac") >= _INC_TAU)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("b_doc").cast("long").alias("n_matched"), "jac")
    )
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("e_matched").isNotNull(), "exact_dup")
            .when(F.col("n_matched").isNotNull(), "near_dup")
            .otherwise("novel")
            .alias("verdict"),
            F.when(F.col("e_matched").isNotNull(), F.col("e_matched"))
            .otherwise(F.col("n_matched"))
            .alias("matched_doc"),
            F.when(F.col("e_matched").isNotNull(), F.lit(None).cast("double"))
            .otherwise(rnd(F.col("jac"), 4))
            .alias("jaccard"),
        )
    )
