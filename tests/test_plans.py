"""Physical-plan regression tests (SURVEY.md §4.2): the scale-relevant plan
shapes asserted in BENCH.md must not silently regress."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from swallow_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def plan_of(spark, key: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        all_queries()[key].fn(spark, SF).explain("formatted")
    return buf.getvalue()


# used ONLY by the registry-wide audits (which never monkeypatch plan
# shapes) so the nested-loop and unpartitioned-window sweeps pay for one
# explain pass, not two; the targeted tests above monkeypatch module state
# and therefore must keep the uncached plan_of
_PLAN_CACHE: dict[str, str] = {}


def _plan_cached(spark, key: str) -> str:
    if key not in _PLAN_CACHE:
        _PLAN_CACHE[key] = plan_of(spark, key)
    return _PLAN_CACHE[key]


@pytest.mark.parametrize(
    "key,required",
    [
        ("join_multiway_star", "BroadcastHashJoin"),  # dims never shuffle the fact
        ("join_broadcast", "BroadcastHashJoin"),
        ("filter_simple", "GreaterThan(l_quantity,30.0)"),  # parquet pushdown
        ("scan_projected", "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
        ("limit_topn", "TakeOrderedAndProject"),  # no global sort for top-n
        ("join_left_semi", "LeftSemi"),
        ("join_left_anti", "LeftAnti"),
        ("win_row_number_topk", "WindowGroupLimit"),  # rank filter pushed into sort
    ],
)
def test_plan_shape(spark, key, required):
    assert required in plan_of(spark, key)


@pytest.mark.parametrize(
    "key",
    [
        "agg_pricing_summary",
        "join_multiway_star",
        "join_inner_hash",
        "win_row_number_topk",
        "limit_topn",
    ],
)
def test_plan_phase_launches_no_job(spark, jobs_launched, key):
    """Building these benchmarked plans runs no Spark job: once io.load
    has inferred the tables' schemas, ``fn(spark, sf)`` only plans.
    An eager action added to one of them fails here instead of silently
    costing wall time."""
    fn = all_queries()[key].fn
    fn(spark, SF)  # warm: schema inference happens here
    assert jobs_launched(lambda: fn(spark, SF)) == 0


def test_flagship_partial_aggregate(spark):
    """Integer-cent sums must partial-aggregate BEFORE the exchange
    (map-side combine) — the reproducibility + shuffle-width guarantee."""
    p = plan_of(spark, "agg_pricing_summary")
    agg_positions = [i for i in range(len(p)) if p.startswith("HashAggregate", i)]
    assert len(agg_positions) >= 2
    exchange = p.find("Exchange")
    assert exchange != -1
    # at least one HashAggregate below (after) the Exchange in tree order and
    # one above it
    assert min(agg_positions) < exchange < max(agg_positions)


def test_no_cartesian_in_interval_join(spark):
    """The interval self-join must keep user_id as an equi key — a
    NestedLoop/Cartesian here explodes at scale."""
    p = plan_of(spark, "join_interval")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize(
    "key,required",
    [
        ("q2_min_cost_supplier", "BroadcastHashJoin"),  # all dims broadcast
        ("q16_supplier_cnt", "LeftAnti"),  # NOT IN → broadcast anti join
        ("q20_potential_promotion", "LeftSemi"),  # IN-subquery → semi join
        ("q18_large_volume_customer", "TakeOrderedAndProject"),  # top-100 w/o sort
    ],
)
def test_tpch_extra2_plan_shape(spark, key, required):
    assert required in plan_of(spark, key)


def test_q21_semi_anti_no_cartesian(spark):
    """EXISTS/NOT EXISTS must compile to orderkey-keyed semi/anti hash joins
    with the suppkey inequality as a residual — never a nested loop."""
    p = plan_of(spark, "q21_suppliers_kept_waiting")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_runtime_bloom_filter_injects(spark):
    """Row-level runtime filtering for shuffle joins: with a selective dim
    filter, Spark injects bloom_filter_agg on the build side and
    might_contain on the 100 TB probe side — rows that can't join are
    dropped at the scan, before the shuffle. (Size thresholds are lowered
    here because the fixture is tiny; on a real cluster the defaults
    10MB/10GB gate it.)"""
    from pyspark.sql import functions as F

    from swallow_spark.io import load

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load(spark, SF, "lineitem")
        o = load(spark, SF, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        p = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in p
        assert "might_contain" in p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join splitting: a hot key owning 80% of the rows is split
    into multiple reducer tasks at runtime (SortMergeJoin(skew=true) +
    'AQEShuffleRead coalesced and skewed'). Thresholds are lowered to make
    the tiny synthetic skew visible; on a cluster the 256MB/5x defaults
    govern. This is the zero-code path for skew the salted join
    (join_salted_skew) handles manually."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        hot = spark.range(200_000).select(F.lit(0).alias("k"), F.col("id").alias("v"))
        tail = spark.range(50_000).select(
            (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        j = hot.union(tail).join(dim, "k")
        assert len(j.collect()) == 250_000
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketBy(8, orderkey): the SortMergeJoin must consume the
    bucketed scans directly — ZERO Exchange on the join inputs. (Broadcast
    is disabled so the small fixture can't sidestep the shuffle question.)"""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        all_queries()["join_bucketed_colocate"].fn(spark, SF)  # writes tables
        lb = spark.table("swallow_lineitem_b_sf0_001")
        ob = spark.table("swallow_orders_b_sf0_001")
        j = lb.join(ob, lb.l_orderkey == ob.o_orderkey).select(
            "o_orderstatus", "l_quantity"
        )
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
        assert "Bucketed: true" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_q11_fact_agg_reused_at_runtime(spark):
    """The scalar-subquery total must reuse the per-part aggregate's
    exchange at runtime (AQE ReuseExchange) — lineitem is scanned and
    aggregated once, not once per subquery, at 100 TB."""
    df = all_queries()["q11_important_stock"].fn(spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in p


def test_minhash_no_broadcast_no_double_signature(spark):
    """dedup_minhash_lsh must build candidates from posting-list buckets:
    ONE signature pipeline (one documents scan) and no broadcast side —
    the self-join formulation recomputed the shingle→minhash aggregate
    twice and broadcast |docs|×n_bands rows."""
    p = plan_of(spark, "dedup_minhash_lsh")
    assert "BroadcastExchange" not in p
    tree = p.split("\n\n(")[0]  # tree section; details repeat each node
    assert tree.count("Scan parquet") == 1


def test_rolling_distinct_no_set_state(spark):
    """win_rolling_distinct_7d must use the contribution-explode +
    COUNT(DISTINCT) shape — a collect_set window materializes per-row user
    sets (flagged weak-for-scale in VERDICT r1)."""
    p = plan_of(spark, "win_rolling_distinct_7d")
    assert "collect_set" not in p
    assert "Window" not in p


def test_sim_pairs_arrow_grouped(spark):
    """sim_pairs_threshold on the UNIFORM fixture must take the round-8
    short-circuit: the driver-side pyarrow histogram probe proves every
    label fits one band, so the plan is ONE parquet scan feeding a
    per-label grouped-map — no count job, no broadcast join, no band-pair
    explode, and no pairwise join anywhere."""
    p = plan_of(spark, "sim_pairs_threshold")
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsInArrow" in p
    assert "BroadcastHashJoin" not in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    tree = p.split("\n\n(")[0]
    assert tree.count("Scan parquet") == 1


def test_sim_pairs_banded_when_skewed(spark, monkeypatch):
    """When the histogram probe reports a hot label (forced here by
    shrinking the band target), sim_pairs_threshold must keep the round-7
    banded shape with the per-label nb map built LOCALLY from the probe and
    arriving via a BROADCAST hash join — still only one parquet scan (the
    count job is gone in this mode too)."""
    import swallow_spark.queries.llm_similarity as sim

    monkeypatch.setattr(sim, "_BAND_TARGET", 8)
    p = plan_of(spark, "sim_pairs_threshold")
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsInArrow" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    tree = p.split("\n\n(")[0]
    assert tree.count("Scan parquet") == 1


def test_sim_pairs_distributed_count_above_gate(spark, monkeypatch):
    """Above the probe size gate (real-cluster scale, forced here by zeroing
    the gate) the label counts must come from the DISTRIBUTED aggregate
    broadcast back — two parquet scans (label-pruned count pass + vector
    pass), broadcast join, banded grouped-map."""
    import swallow_spark.queries.llm_similarity as sim

    monkeypatch.setattr(sim, "_PROBE_MAX_BYTES", 0)
    p = plan_of(spark, "sim_pairs_threshold")
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsInArrow" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    tree = p.split("\n\n(")[0]
    assert tree.count("Scan parquet") == 2


def test_pretrain_packer_two_pass(spark):
    """pipeline_pretrain_corpus must pack shards via the two-pass
    per-partition-offset cumsum (round 7), not the former unpartitioned
    window that funneled every chunk through one task: a narrow MapInPandas
    computes local cumsums over the range-partitioned chunk stream, and the
    per-partition offsets come back through a BROADCAST join. Since round
    11 the chunk stream is materialized (the Python pass is not
    shuffle-reused across the two consuming branches), so the declared
    plan reads Scan ExistingRDD and the pre-checkpoint shape is pinned on
    the factored-out _pretrain_local chain."""
    import contextlib
    import io

    from swallow_spark.queries.training_pipeline import _pretrain_local

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _pretrain_local(spark, SF).explain("formatted")
    pre = buf.getvalue()
    assert "MapInPandas" in pre
    assert "SortMergeJoin" not in pre
    assert unpartitioned_windows(pre) == 0  # no global window upstream
    p = plan_of(spark, "pipeline_pretrain_corpus")
    assert "Scan ExistingRDD" in p  # the materialize cut
    assert "BroadcastHashJoin" in p  # offsets come back broadcast
    assert "SortMergeJoin" not in p


def test_contamination_broadcasts_eval_side(spark):
    """text_contamination_ngram's 100 TB story: the (tiny) eval shingle set
    broadcasts; the corpus stream must NOT reach a shuffle-side join."""
    p = plan_of(spark, "text_contamination_ngram")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_embedding_dedup_blocked_join(spark):
    """dedup_embedding_cosine: pair generation is a label-blocked equi join
    (never a cartesian), and the duplicate-id set anti-joins broadcast."""
    p = plan_of(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftAnti" in p


def test_exact_substring_mapside_combine_broadcast_df(spark):
    """dedup_exact_substring: the segment-df aggregate partial-combines
    before its exchange and the (small) df side broadcasts onto the segment
    stream — no cartesian, no shuffle of the corpus for the join. (The segs
    subtree is recomputed per branch — cheap-recompute-beats-materialize,
    same measured trade-off as ops/dedup.py's NOTE.)"""
    p = plan_of(spark, "dedup_exact_substring")
    tree = p.split("\n\n(")[0]
    assert "BroadcastHashJoin" in tree
    # df aggregate: HashAggregate above AND below its Exchange (partial+final)
    assert tree.count("HashAggregate") >= 4
    assert "CartesianProduct" not in p


def test_bm25_pushes_terms_and_broadcasts_stats(spark):
    """BM25 must broadcast the tiny df/stats sides and keep the big token
    stream un-broadcast; the sum must partial-aggregate before the doc
    exchange (micro-unit contributions are map-side combinable)."""
    p = plan_of(spark, "text_bm25_search")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # top-20, no global sort
    assert "CartesianProduct" not in p


def test_triangle_count_no_nested_loop(spark):
    """Triangle 3-join must stay equi-join (SortMerge/Hash) on edge
    endpoints — a nested-loop here is O(E^2) at scale."""
    p = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_minhash_portable_single_signature_pass(spark):
    """Portable MinHash must keep the single-aggregate signature shape of
    the fast twin: one partial+final HashAggregate pair computing the 32
    mins, bucket grouping instead of a signature self-join."""
    p = plan_of(spark, "dedup_minhash_portable")
    # docs read once, no re-scan self-join (one scan detail block; the node
    # name itself appears twice in "formatted" output — tree + detail)
    assert p.count("Location: InMemoryFileIndex") == 1
    assert "partial_min" in p  # map-side combine of the 32 signature mins


def test_simhash_portable_salted_sig_pairing(spark):
    """dedup_simhash_portable (r4 verdict item 1): pair DISTINCT signatures
    (not docs), salt the sig-level self-join 8 ways, and emit each pair
    from its first matching segment — so there is NO dedup exchange
    (structural uniqueness) and the hot segment bucket splits across the
    salt fan-out."""
    p = plan_of(spark, "dedup_simhash_portable")
    # salt fan-out: the right side explodes the 8-element salt array
    assert "explode([0,1,2,3,4,5,6,7])" in p
    # structural uniqueness: no distinct/dedup node anywhere
    assert "Deduplicate" not in p
    # expansion joins broadcast the tiny sig-group table
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the sig-group table is eagerly checkpointed: the returned plan reads
    # the materialized groups (ExistingRDD), never re-scanning documents —
    # the un-checkpointed shape recomputed the signature pipeline 5×
    tree = p.split("\n\n(")[0]
    assert tree.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in tree


# Keys where a BroadcastNestedLoopJoin is INTENTIONAL and bounded: the
# scalar-subquery pattern (crossJoin of a broadcast 1-row aggregate), tiny
# theta joins (nation×nation), or probe-broadcast similarity scans. A key
# appearing here has been audited; anything else showing a nested-loop or
# cartesian is a scale bug.
BNLJ_ALLOWED = {
    "basket_association_rules",
    "etl_forget_users",  # audit scalars: crossJoin of broadcast 1-row aggregates
    "etl_referential_audit",  # per-edge scalar rows: broadcast 1-row aggregate joins
    "fn_haversine",
    "join_cross_limited",
    "q11_important_stock",
    "q22_global_sales_opportunity",
    # dist_rank's bounds crossjoins are auto-recognized structurally
    # (_dist_rank_bounds_bnlj_ids) — entries here cover callers' OTHER
    # 1-row scalar crossjoins only
    "win_ntile",  # broadcast 1-row total-count crossjoin (NTILE denominator)
    "win_percent_rank",  # broadcast 1-row total-count crossjoin (denominator)
    "sample_temperature_mix",  # broadcast 1-row total/normalizer cross joins
    "search_hybrid_rrf",  # probe-broadcast cosine arm (same as sim_cosine_topk)
    "sim_cosine_topk",
    "vec_ann_recall_sweep",  # exhaustive arm: bounded-broadcast probe scan (sim_cosine_topk shape) + 1-row tot
    "vec_ivf_cell_balance",  # broadcast 1-row corpus-total crossjoin
    "vec_pq_distortion",  # broadcast 1-row total-distortion crossjoin
    "sim_knn_join_label",
    "stats_chisq_independence",
    "stats_jackknife_se",  # broadcast 1-row total/20-row fold cross joins
    "stats_ks_test",
    "stats_kruskal_wallis",  # broadcast 1-row tie-term crossjoin (mann_whitney shape)
    "stats_mutual_information",  # broadcast 1-row n/H(x)/H(y) scalar crossjoins (chisq shape)
    "sketch_kmv_intersect",  # broadcast 1-row exact-intersection ground-truth crossjoin
    "seq_churn_hazard",  # broadcast 1-row total-users crossjoin (life-table denominator)
    "seq_rfm_scores",  # broadcast 1-row user-count + max-ts scalar crossjoins
    "stats_friedman",  # broadcast 1-row k (distinct-segment count) crossjoin
    "ts_changepoint_split",  # broadcast 1-row (n, s) totals crossjoin (BSS closed form)
    "ts_kpss_stationarity",  # broadcast 1-row sufficient-stats crossjoin (pacf-rule chain)
    "stats_mann_whitney",
    "etl_freshness_audit",  # broadcast 1-row global-max-ts crossjoin
    "eval_dedup_threshold_sweep",  # broadcast 1-row corpus-total crossjoin
    "vec_ann_ivf_batch_rescore",  # broadcast 1-row corpus-total crossjoin (salt decision)
    "graph_modularity",  # broadcast 1-row m / Q-numerator scalar cross joins
    "graph_ppr_restart",  # broadcast 1-row seed-count crossjoin (restart-mass split)
    "seq_cohort_ltv",  # broadcast 1-row min-date crossjoin
    "seq_growth_accounting",  # broadcast 1-row min-date crossjoin
    "win_decayed_sum",  # broadcast 1-row max-day crossjoin (decay anchor)
    "stats_chisq_gof",  # broadcast 1-row n crossjoin
    "stats_ljung_box",  # broadcast 1-row n/c0/Q-sum scalar crossjoins
    "text_js_divergence",  # broadcast 1-row totals/JS-sum scalar crossjoins
    "stats_calibration_ece",  # broadcast 1-row ECE/total scalar crossjoins
    "eval_cohen_kappa",  # broadcast 1-row chance-agreement crossjoin
    "eval_mcc_multiclass",  # broadcast 1-row covariance-sums crossjoins
    "stats_cuped",  # broadcast 1-row bounds/theta crossjoins
    "stats_kendall_tau",  # deliberately bounded 25-nation pair set + 1-row n crossjoin
    "stats_survival_km",  # bounded O(days^2) prefix-product triangle + 1-row maxdate
    "stats_permutation_test",  # broadcast 1-row observed-diff crossjoin
    "stats_bh_fdr",  # broadcast 1-row global-mean crossjoin (sign-flip residuals)
    "stats_psi_drift",  # broadcast 1-row ts/value-bounds crossjoin
    "stats_cramers_v",  # broadcast 1-row n/r/c totals crossjoin (chisq shape)
    "stats_variance_merge",  # broadcast 1-row ts-bounds crossjoin
    "etl_incremental_high_watermark",  # broadcast 1-row min/max-ts bounds crossjoin
    "text_bigram_logprob",  # broadcast 1-row vocab-size V crossjoin
    "text_burstiness",  # broadcast 1-row doc-count D crossjoin (zero-inflated VMR)
    "text_bm25_search",
    "eval_retrieval_rank_metrics",  # broadcast 1-row rel-count/first-rank + 3-row k crossjoins (BM25 stats shape)
    "eval_retrieval_ndcg",  # broadcast 1-row DCG/IDCG scalar crossjoin (BM25 stats shape)
    "eval_confusion_f1",  # broadcast |langs|-row class list x predictions: one-pass conditional-agg confusion scan
    "text_perplexity_buckets",  # broadcast 1-row corpus-total crossjoin (unigram LM)
    "text_cooccurrence_pmi",
    "text_tfidf_topk",
    "text_unigram_logprob",
    "ts_dtw_profile",  # broadcast 1-row reference-profile array crossjoin
    "ts_xcorr_lags",  # broadcast 15-row lag-offset crossjoin (bounded expansion)
    "ts_sample_entropy",  # bounded O(days^2) template triangle + 1-row tolerance
    "ts_gap_fill",
    "ts_locf",
    "vec_label_noise_knn",  # probe-broadcast cosine arm (same as sim_cosine_topk)
    "vec_sign_topk",  # probe-broadcast Hamming scan (same shape as sim_cosine_topk)
    "vec_pq_adc_topk",  # probe-broadcast ADC LUT scan (same shape as sim_cosine_topk)
    "vec_triplet_mining",  # anchor-broadcast cosine scan (same as sim_cosine_topk)
    "vec_matryoshka_recall",  # probe-broadcast cosine arms (same as sim_cosine_topk)
    "vec_maxsim_late_interaction",  # probe-broadcast MaxSim scan (same as sim_cosine_topk)
    "vec_ndcg_eval",  # probe-broadcast ranking scan (same as sim_cosine_topk)
    "vec_silhouette_sample",  # probe-broadcast distance scan (same as sim_cosine_topk)
    "ts_resample_interp",
}

_PLAN_AUDIT_SKIP_PREFIXES = (
    "source_", "sink_", "etl_compact", "etl_range_partition", "stream_",
)

# --- ops/dist_rank.py plan-shape auto-recognition -------------------------
# distributed_prefix's two audited-by-design shapes carry the module's
# PRIVATE column names (_lo/_w/_bkt — grep: no other module emits them), so
# every present and FUTURE caller is covered by construction instead of by
# allowlist maintenance. (Round-10 foul: a late caller missing two
# allowlist lines broke this suite even though its plan was exactly the
# already-audited bounded shape.) The shapes: a BroadcastNestedLoopJoin
# whose build side is the 1-row (_lo, _w) bounds aggregate, and an
# unpartitioned Window ordered by _bkt over the ≤B-row per-bucket
# offset frame.
_BNLJ_NODE = re.compile(r"^\((\d+)\) BroadcastNestedLoopJoin", re.M)
_DIST_RANK_OFFSET_ORDER = re.compile(r"^_bkt#\d+L? (ASC|DESC) NULLS (FIRST|LAST)$")


def _dist_rank_bounds_bnlj_ids(plan: str) -> set[int]:
    """Node ids of BNLJs whose build side is dist_rank's 1-row (_lo, _w)
    bounds aggregate. Formatted explain numbers children post-order with
    the build (right) subtree last, so that BroadcastExchange — whose
    Input is exactly [_lo#N, _w#M] — sits at id-1."""
    ids = set()
    for m in _BNLJ_NODE.finditer(plan):
        nid = int(m.group(1))
        if re.search(
            r"^\(%d\) BroadcastExchange\s*\nInput \[2\]: \[_lo#\d+L?, _w#\d+L?\]"
            % (nid - 1),
            plan,
            re.M,
        ):
            ids.add(nid)
    return ids


def test_no_unaudited_nested_loop_joins(spark):
    """Repo-wide anti-pattern audit: no declared key may introduce a
    CartesianProduct or an unaudited BroadcastNestedLoopJoin — the two plan
    shapes that silently explode at 100 TB. dist_rank's broadcast 1-row
    bounds crossjoin is recognized structurally (see
    _dist_rank_bounds_bnlj_ids); only OTHER nested loops need an
    allowlist entry."""
    from swallow_spark.registry import declared_queries

    offenders = []
    for name, q in declared_queries().items():
        if name.startswith(_PLAN_AUDIT_SKIP_PREFIXES):
            continue
        p = _plan_cached(spark, name)
        if "CartesianProduct" in p:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in p and name not in BNLJ_ALLOWED:
            all_ids = {int(m.group(1)) for m in _BNLJ_NODE.finditer(p)}
            if all_ids - _dist_rank_bounds_bnlj_ids(p):
                offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


# Keys where an UNPARTITIONED Window (no PARTITION BY → every input row
# through ONE reducer task) is intentional because its input frame is
# provably bounded — post-aggregate rows whose count does not grow with the
# table (calendar grains, value-domain histograms, fixed-k cuts). A key
# here has been audited with the bound named; anything else showing an
# unpartitioned window over table-sized input is the single-reducer cliff
# (the former sample_systematic defect). dist_rank's ≤B bucket-offset
# frame is recognized structurally inside unpartitioned_windows (ordered
# by its private _bkt column), so distributed_prefix callers need no
# entry here.
WINDOW_GLOBAL_ALLOWED = {
    # bounded post-aggregate frames
    "class_weights",  # ≤|langs| (5) class-count rows
    "eval_retrieval_ndcg",  # single fixed-probe candidate ranking (top-k cut)
    "eval_retrieval_rank_metrics",  # single fixed-probe candidate ranking
    "pipeline_dpo_corpus",  # ≤K·|langs| (25) preference-pair packing frame
    "pipeline_pretrain_corpus",  # ≤32 per-partition packer subtotals
    "sample_label_balance",  # ≤|labels| count frame (min-cap scalar)
    "search_hybrid_rrf",  # single-probe BM25/cosine candidate rankings
    "seq_churn_hazard",  # week-grain life table (calendar-bounded)
    "sketch_kmv_intersect",  # ≤2k-row (k=32) merged bottom-k sketch frame
    "sketch_log2_histogram",  # ≤64 log2 buckets
    "stats_benford",  # 9 leading-digit rows
    "stats_bh_fdr",  # bounded hypothesis frame (199 per-nation p-values)
    "stats_kruskal_wallis",  # distinct-cents histogram frame
    "stats_ks_test",  # distinct-cents histogram frame
    "stats_log_rank_test",  # duration-grain event table
    "stats_mann_whitney",  # distinct-cents histogram frame
    "stats_psi_drift",  # fixed bin frame
    "stats_spearman",  # distinct-value histogram frames (x and y)
    "stats_survival_km",  # duration-grain (days) life table
    "stats_wilcoxon_signed_rank",  # distinct-|diff| histogram frame
    "text_zipf_slope",  # ≤50-row TakeOrdered survivors
    "training_mix_allocation",  # ≤|langs| mix/remainder frames
    # day/week/month-grain frames: calendar-bounded (~2.5k days), SF-invariant
    "ts_changepoint_split",
    "ts_classical_decompose",
    "ts_haar_energy",
    "ts_hurst_exponent",
    "ts_mom_growth",
    "ts_peak_detection",
    "ts_record_highs",
    "ts_sample_entropy",
    "ts_sax_symbols",
    "ts_seasonal_strength",
    "ts_sma_crossover",
    "ts_turning_points",
    "win_rolling_corr",
}

_WINSPEC = re.compile(r"windowspecdefinition\(")


def _first_spec_arg(s: str, start: int) -> str:
    """First top-level argument of a windowspecdefinition(...) call."""
    depth = 0
    i = start
    buf = []
    while i < len(s):
        ch = s[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            break
        buf.append(ch)
        i += 1
    return "".join(buf).strip()


def unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with NO partition spec: the first
    windowspecdefinition argument is already the order spec (ASC/DESC) or
    directly the frame. Partitioned-but-unordered windows ([funcs], [part])
    are distributed and do NOT count."""
    n = 0
    for m in re.finditer(r"\(\d+\) Window\b[^\n]*\n((?:[A-Z][^\n]*\n)*)", plan):
        am = re.search(r"Arguments: (.*)", m.group(0))
        if not am:
            continue
        args = am.group(1)
        for sm in _WINSPEC.finditer(args):
            first = _first_spec_arg(args, sm.end())
            if _DIST_RANK_OFFSET_ORDER.match(first):
                # dist_rank's ≤B-row bucket-offset frame: bounded by
                # construction (B = bucket count, a config constant), the
                # one unpartitioned window that is always benign
                continue
            if first.startswith("specifiedwindowframe(") or re.search(
                r" (ASC|DESC) NULLS (FIRST|LAST)$", first
            ):
                n += 1
                break
    return n


def test_no_unaudited_unpartitioned_windows(spark):
    """Repo-wide single-reducer audit: no declared key may introduce an
    unpartitioned Window over table-sized input. Every allowed occurrence
    is listed in WINDOW_GLOBAL_ALLOWED with its bounded-frame
    justification; a new key tripping this must either use the
    distributed two-phase rank (ops/dist_rank.py) or prove its frame
    bounded and join the allowlist."""
    from swallow_spark.registry import declared_queries

    offenders = []
    for name, q in declared_queries().items():
        if name.startswith(_PLAN_AUDIT_SKIP_PREFIXES):
            continue
        if (
            unpartitioned_windows(_plan_cached(spark, name))
            and name not in WINDOW_GLOBAL_ALLOWED
        ):
            offenders.append(name)
    assert not offenders, offenders


def test_gram_matrix_partial_then_final(spark):
    """The Gram pipeline must be map-only up to a tiny (i, j) aggregate:
    one parquet scan feeding ArrowEvalPython/mapInPandas, then a
    partial+final HashAggregate over the 2 080-row partials — nothing
    corpus-sized may cross the exchange."""
    p = plan_of(spark, "vec_gram_matrix")
    assert p.count("Location: InMemoryFileIndex") == 1  # embeddings read once
    assert "partial_sum" in p  # map-side combine of the partial Grams
    assert "CartesianProduct" not in p


def test_bloom_filter_broadcasts_bit_set(spark):
    """The probe side must hash-join a BROADCAST position set (the bloom
    bitmap analog); shipping the probe side instead would shuffle the
    100 TB side."""
    p = plan_of(spark, "sketch_bloom_filter")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cdc_apply_single_window_exchange(spark):
    """ROW_NUMBER and the per-key count are two Window nodes sharing ONE
    partition/sort: exactly one Exchange (on the CDC key) feeds both.
    (graph_jaccard_neighbors has no plan test: localCheckpoint collapses
    its declared plan to Scan ExistingRDD; its shape is covered by the
    pre-checkpoint construction sharing graph_triangle_count's audited
    machinery.)"""
    p = plan_of(spark, "etl_cdc_apply")
    assert p.count("+- Exchange") == 1
    assert p.count("Window (") == 2


def test_argmax_rows_partial_aggregates_before_exchange(spark):
    """The aggregate top-1 formulation must partial-aggregate map-side
    (one candidate per group crosses the shuffle) and never fall back to
    a Window — that's win_row_number_topk's plan, which shuffles every
    fact row."""
    p = plan_of(spark, "join_argmax_rows")
    assert "partial_max_by" in p  # map-side candidate per group
    exchange = p.find("Exchange")
    assert exchange != -1
    assert p.find("partial_max_by") > exchange  # below the exchange in tree order
    assert "Window" not in p


def test_skyline_single_exchange_two_windows(spark):
    """win_skyline_dominance: both dominance windows (strictly-cheaper RANGE
    max and equal-price max) must share ONE p_brand exchange — the finer
    (brand, price) partition requirement is satisfied by hashpartitioning
    on brand alone, so a second shuffle would be a regression."""
    p = plan_of(spark, "win_skyline_dominance")
    tree = p.split("\n\n(")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("Window") == 2
    assert "CartesianProduct" not in p  # never the O(n^2) dominance join


def test_lateral_api_decorrelates_to_window_topk(spark):
    """join_lateral_api: the correlated per-nation limit must decorrelate
    to a WindowGroupLimit top-k + broadcast dim join — NO per-left-row
    re-execution (nested loop) of the right side."""
    p = plan_of(spark, "join_lateral_api")
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_epoch_shuffle_windowgrouplimit(spark):
    """training_epoch_shuffle: the top-20 pin must push down as a
    WindowGroupLimit (map-side partial + final), never a full per-epoch
    sort materialization."""
    p = plan_of(spark, "training_epoch_shuffle")
    tree = p.split("\n\n(")[0]
    assert "WindowGroupLimit" in tree
    assert tree.count("Exchange") == 1


def test_join_hints_take_effect(spark):
    """sql_join_hints: the BROADCAST hint must actually produce a
    BroadcastHashJoin (hints that silently no-op are worse than none)."""
    p = plan_of(spark, "sql_join_hints")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dynamic_partition_pruning_injects(spark):
    """Dynamic partition pruning: joining a day-partitioned fact against a
    filtered dim must inject `dynamicpruningexpression(day IN ...)` into
    the fact scan's PartitionFilters — at 100 TB this is the difference
    between scanning 3 partitions and 3000. Gotcha pinned here: the dim
    filter must be a COMPARISON (idx < 4); a bare boolean attribute is not
    'likely selective' to the PartitionPruning rule and DPP silently
    skips."""
    import os

    from pyspark.sql import functions as F

    from swallow_spark.io import load

    root = "/tmp/swallow_spark_io/dpp_plan_test"
    e = load(spark, SF, "events")
    e.withColumn("day", F.col("ts").cast("date")).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(f"{root}/fact")
    (
        e.select(F.col("ts").cast("date").alias("day"))
        .distinct()
        .withColumn("idx", F.dayofmonth("day").cast("long"))
        .write.mode("overwrite")
        .parquet(f"{root}/dim")
    )
    fact = spark.read.parquet(f"{root}/fact").select("day", "event_id")
    dim = spark.read.parquet(f"{root}/dim").filter(F.col("idx") < 4)
    j = fact.join(F.broadcast(dim), "day").agg(F.count("event_id"))
    p = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in p.lower()


def test_bh_fdr_hashes_once_per_order(spark):
    """stats_bh_fdr (r6 perf fix, 19 s -> 3.3 s): orders are hashed ONCE
    into 208 md5 bits and replicates read bits — the md5 calls must sit
    BELOW the replicate explode (4 calls on the order-grain projection),
    never above it (which would re-hash per (order, replicate): 30M md5s)."""
    p = plan_of(spark, "stats_bh_fdr")
    # exactly the four 52-bit word extractions, each one md5 over the
    # order key alone (no replicate id in any hash input)
    assert p.count("md5(") == 4
    assert ":0" in p and ":1" in p  # the two per-order hash salts
    # the replicate explode (sequence constant-folds to an array literal)
    # carries the four PRE-HASHED words — proof the hashes sit below it
    assert "explode(" in p
    assert "h0" in p and "h3" in p


def test_image_histogram_partial_before_exchange(spark):
    """multimodal_image_histogram's explode emits (doc_id, bin) rows; the
    hash aggregate must partial-combine BEFORE the exchange so the wide
    stage carries O(docs·16), not O(corpus bytes)."""
    p = plan_of(spark, "multimodal_image_histogram")
    assert "HashAggregate" in p and "Exchange" in p
    # partial_count marker appears in the pre-exchange HashAggregate
    pre_exchange = p.split("Exchange")[0]
    assert "partial_count" in pre_exchange or "partial_count" in p


def test_random_projection_is_map_only(spark):
    """vec_random_projection must be a single Arrow-batched Python pass over
    the scan — NO exchange anywhere (the JL projection is embarrassingly
    parallel by construction; the round-11 fan_out A/B measured the
    repartition variant a loss here, so the strict pin stands)."""
    p = plan_of(spark, "vec_random_projection")
    assert "MapInPandas" in p or "ArrowEvalPython" in p
    assert "Exchange" not in p


def test_kruskal_rank_window_over_preaggregate(spark):
    """stats_kruskal_wallis's global rank window must run over the
    per-distinct-value pre-aggregate: a HashAggregate appears BELOW the
    single-partition window exchange, so the window input is |distinct
    cents|, never the raw customer table."""
    p = plan_of(spark, "stats_kruskal_wallis")
    assert "Window" in p
    below_window = p.split("Window")[-1]
    assert "HashAggregate" in below_window


def test_chat_format_validate_is_shuffle_free(spark):
    """training_chat_format_validate is a pure record-validation pass: the
    array-of-struct construction and every rule check must stay whole-
    stage-codegen projections over the scan — NO exchange, NO Python (the
    round-11 fan_out A/B measured the repartition variant a loss here, so
    the strict pin stands)."""
    p = plan_of(spark, "training_chat_format_validate")
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_pass_at_k_partial_before_exchange(spark):
    """eval_pass_at_k's task aggregate must partial-combine map-side (the
    per-customer count/sum), and the whole plan carries exactly the two
    aggregation exchanges (task key, then the 3-row k rollup) plus the
    final sort — no join ever appears."""
    p = plan_of(spark, "eval_pass_at_k")
    assert "partial_count" in p or "partial_sum" in p
    assert "Join" not in p


def test_regression_metrics_single_window_then_global_agg(spark):
    """eval_regression_metrics must compute the group-mean predictor with
    ONE hash-partitioned window (no join back), then collapse into a
    global partial+final aggregate."""
    p = plan_of(spark, "eval_regression_metrics")
    assert p.count("Window") >= 1
    assert "Join" not in p
    assert "partial_sum" in p


def test_batch_rescore_salted_join_shape(spark):
    """vec_ann_ivf_batch_rescore: the candidate join must be an equi join
    carrying BOTH cell and salt as keys (the hot-cell fan-out), the salt
    map must arrive broadcast, and nothing may go nested-loop except the
    audited 1-row corpus-total crossjoin."""
    p = plan_of(spark, "vec_ann_ivf_batch_rescore")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # salt map (<= 16 rows) broadcast-joined
    assert "salt" in p  # the salted key reaches the physical plan
    # round-11 session 5: the candidate join hash-builds the probe sample
    # per partition instead of sorting the whole salted corpus (SMJ -> SHJ)
    assert "ShuffledHashJoin" in p
    assert "SortMergeJoin" not in p
    # assignment is materialized once: candidate sides read ExistingRDD,
    # not two fresh parquet scans of embeddings
    tree = p.split("\n\n(")[0]
    assert "Scan ExistingRDD" in tree


def test_recall_sweep_bounded_joinbacks_broadcast(spark):
    """vec_ann_recall_sweep (round-11 session 5): the hits join (ANN arm
    vs exhaustive top-5) and the counts join-back have sides bounded by
    |probes|*topk resp. |nprobes| rows by construction, so they must
    arrive broadcast — a SortMergeJoin reappearing here means the
    bounded sides regressed to exchange+sort."""
    p = plan_of(spark, "vec_ann_recall_sweep")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_smj_audit_fixes_pinned(spark):
    """Round-11 session 6: the registry-wide hidden-sort audit
    (tools/smj_audit.py) found 17 keys whose STATIC plan carried a
    SortMergeJoin; the ones with a bounded-by-construction or skinny
    build side were fixed (broadcast for the bounded eval-grid /
    class-marginal / top-k join-backs; SHUFFLE_HASH for the two full
    outers AQE cannot broadcast-convert and the mutual-kNN self-join).
    A SortMergeJoin reappearing in any of them means a bounded side
    regressed to exchange+sort."""
    for key in (
        "eval_bleu",            # clip join + join-back: ≤50-pair eval grid
        "eval_chrf",            # overlap join + join-back: same grid
        "eval_cohen_kappa",     # t×p marginals: |classes|-bounded
        "eval_mcc_multiclass",  # same marginals
        "vec_matryoshka_recall",  # two |probes|·k top-k arms + hit join-back
        "vec_triplet_mining",   # pos×neg top-1 arms: |anchors|-bounded
        "vec_mutual_knn_graph",  # skinny k·N self-join: SHJ, no sorts
        "search_hybrid_rrf",    # ≤20-row arms, FULL OUTER -> SHJ
        "eval_dedup_minhash_quality",  # pair-set FULL OUTER -> SHJ
    ):
        p = plan_of(spark, key)
        assert "SortMergeJoin" not in p, key
    # the full outers must actually be hash joins (not silently degraded
    # to nested-loop by a future condition change)
    for key in ("search_hybrid_rrf", "eval_dedup_minhash_quality"):
        p = plan_of(spark, key)
        assert "ShuffledHashJoin FullOuter" in p, key


def test_dist_rank_shape_recognition(spark):
    """The structural recognizers that keep distributed_prefix callers out
    of the audit allowlists must actually FIRE on a live dist_rank plan —
    if a Spark upgrade reformats explain output, this fails with a clear
    name instead of the registry audits erupting with dozens of phantom
    offenders. pipeline_sft_corpus (the round-10 foul) is the canary: its
    only BNLJs are the two bounds crossjoins and its only unpartitioned
    windows are the ≤B-row offset frames."""
    p = _plan_cached(spark, "pipeline_sft_corpus")
    all_bnlj = {int(m.group(1)) for m in _BNLJ_NODE.finditer(p)}
    recognized = _dist_rank_bounds_bnlj_ids(p)
    assert all_bnlj, "expected dist_rank bounds BNLJs in the plan"
    assert all_bnlj == recognized, (all_bnlj, recognized)
    assert unpartitioned_windows(p) == 0
    # and the recognizer must NOT over-match: a key whose BNLJ is a real
    # probe-broadcast scan (sim_cosine_topk) stays unrecognized
    p2 = _plan_cached(spark, "sim_cosine_topk")
    bnlj2 = {int(m.group(1)) for m in _BNLJ_NODE.finditer(p2)}
    assert bnlj2, "sim_cosine_topk lost its probe-broadcast BNLJ"
    assert not _dist_rank_bounds_bnlj_ids(p2)


def test_rfm_dist_rank_no_single_partition_sort(spark):
    """seq_rfm_scores must carry no Exchange SinglePartition into a Window
    over the per-user frame — the three quintiles come from bucket-
    partitioned dist_rank windows."""
    p = plan_of(spark, "seq_rfm_scores")
    # dist_rank's ≤B-row offset frames are structurally excluded by
    # unpartitioned_windows, so anything counted here is a real cliff
    assert unpartitioned_windows(p) == 0
    assert "CartesianProduct" not in p


def test_dist_rank_recognizers_on_canned_plans():
    """Pure-string contract tests for the recognizers (no Spark): pin the
    exact explain-format assumptions — BNLJ detail node numbering with the
    build-side BroadcastExchange at id-1 and the [_lo#, _w#] Input
    signature; the _bkt#N order spec for the offset window. If these fail
    while the live canary passes, the regexes drifted from each other."""
    bounds_plan = (
        "(27) BroadcastNestedLoopJoin\n"
        "Join type: Cross\n"
        "Join condition: None\n"
        "\n"
        "(26) BroadcastExchange\n"
        "Input [2]: [_lo#21L, _w#22L]\n"
    )
    assert _dist_rank_bounds_bnlj_ids(bounds_plan) == {27}
    # build side NOT the bounds aggregate -> unrecognized
    probe_plan = bounds_plan.replace("[_lo#21L, _w#22L]", "[emb#3, doc_id#1L]")
    assert _dist_rank_bounds_bnlj_ids(probe_plan) == set()
    # exchange not at id-1 (some other node between) -> unrecognized
    shifted = (
        "(27) BroadcastNestedLoopJoin\n"
        "Join type: Cross\n"
        "\n"
        "(25) BroadcastExchange\n"
        "Input [2]: [_lo#21L, _w#22L]\n"
    )
    assert _dist_rank_bounds_bnlj_ids(shifted) == set()

    offset_window = (
        "(62) Window\n"
        "Input [2]: [_bkt#90L, _s_cum#46L]\n"
        "Arguments: [sum(_s_cum#46L) windowspecdefinition(_bkt#90L ASC NULLS"
        " FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1))"
        " AS _we1#61L], [_bkt#90L ASC NULLS FIRST]\n"
    )
    assert unpartitioned_windows(offset_window) == 0  # dist_rank: skipped
    global_window = offset_window.replace("_bkt#90L ASC", "l_orderkey#5L ASC")
    assert unpartitioned_windows(global_window) == 1  # a real cliff counts


def test_bloom_prefilter_plan_shape(spark):
    """join_bloom_prefilter's probe must stay a bare Filter over the pruned
    lineitem scan — no join node of any kind for the prefilter (the literal
    word array is folded into the scan stage), one BroadcastHashJoin for
    the exact join, and 3-column ReadSchema on both scans."""
    p = plan_of(spark, "join_bloom_prefilter")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in p
    tree = p.split("\n\n(")[0]
    assert tree.count("BroadcastHashJoin") == 1
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,"
        "l_returnflag:string>" in p
    )
    # the probe filter sits DIRECTLY on the fact scan (tree ids 1-2): the
    # tree section must show Filter immediately above the first Scan
    assert ":- Filter" in tree or "+- Filter" in tree


def test_delong_plan_shape(spark):
    """eval_auc_delong_paired must consume the MATERIALIZED base (no
    parquet re-scan per consumer) and, since the round-11 session-5
    rewrite, be JOIN-FREE: the marginal placement tables, their
    sort-merge join-backs, and the broadcast totals join all collapsed
    into RANGE-frame cumulative windows over the joint aggregate
    (26 Exchange -> 6, 4 SMJ -> 0). A join reappearing here means the
    rewrite regressed to the joined form."""
    p = plan_of(spark, "eval_auc_delong_paired")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" not in p
    tree = p.split("\n\n(")[0]
    # all consumers read the materialized 4-column base
    assert "Scan ExistingRDD" in tree
    assert tree.count("Scan parquet") == 0


def test_dataset_card_plan_shape(spark):
    """pipeline_dataset_card is one Expand (ROLLUP grouping sets) over a
    single corpus scan — no join, no window, partial+final aggregate."""
    p = plan_of(spark, "pipeline_dataset_card")
    assert "Expand" in p
    assert "Join" not in p
    assert "Window" not in p
    tree = p.split("\n\n(")[0]
    assert tree.count("Scan parquet") == 1
