"""Benchmark runner (driver contract, SURVEY.md §6).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from swallow_spark.registry import declared_queries
from swallow_spark.session import get_spark

# Headline set: one representative per operator family, weighted toward the
# shuffle/join/window-heavy paths that dominate at scale, plus the LLM-data
# operators (dedup / similarity / text) that are this engine's raison d'être.
HEADLINE = [
    "agg_pricing_summary",
    "join_multiway_star",
    "join_broadcast",
    "join_inner_hash",
    "agg_count_distinct",
    "win_row_number_topk",
    "win_lag_lead",
    "win_running_sum",
    "agg_rollup",
    "set_union_distinct",
    "limit_topn",
    "filter_compound",
    "project_compute",
    "stream_session_batch",
    "dedup_exact",
    "dedup_near_exact_jaccard",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_pairs_threshold",
    "text_tokenize_counts",
    "text_tfidf_topk",
    "text_fingerprint",
    "udf_pandas_scalar",
    "q8_market_share",
    "q18_large_volume_customer",
    "q21_suppliers_kept_waiting",
]

# Extended set (round-7, VERDICT r6 item 5): the non-headline heavies whose
# regressions were previously invisible to BENCH_r*.json — the iterative
# graph keys, the ANN/statistics keys round 6 reworked, and the cogrouped
# UDFs round 7 reworked. Reported in a separate "extended" block so the
# headline total stays shape-compatible with r1-r6.
EXTENDED = [
    "graph_pagerank",
    "graph_katz_centrality",
    "graph_kcore",
    "ann_lsh_bucketed",
    "stats_bh_fdr",
    "udf_cogrouped_merge",
    "udf_cogrouped_arrow",
    "dedup_simhash_portable",
    "text_bm25_search",
    "graph_local_clustering",  # round-7 session 2: vertex-attributed triangle listing
    "graph_closeness_landmarks",  # round-7 session 2: multi-source frontier BFS
    "vec_ann_lsh_portable",  # round 8: fully-oracled bucketed ANN
    "vec_ann_ivf_portable",  # round 9: frozen-centroid IVF ANN
    "vec_ann_ivfpq_portable",  # round 9: composed IVF routing + PQ/ADC scoring
    "etl_incremental_dedup",  # round 9: asymmetric increment-vs-corpus dedup
    "text_ngram_novelty",  # round 9: explode-heavy first-occurrence join
    "eval_bradley_terry",  # round 9: MW win matrix + 4 materialized MM iterations
    "vec_ann_recall_sweep",  # round 9: 4-point recall curve + exhaustive arm
    "vec_ann_ivf_batch_rescore",  # round 10: table-scan probes + salted hot-cell join
    "etl_zorder_layout",  # round 10: physical 2-layout write + skipping report
    "pipeline_sft_corpus",  # round 10 (benched r11): gate -> dedup -> dist-prefix packing
    "pipeline_dpo_corpus",  # round 11: dual WindowGroupLimit rank arms + pair packing
    "join_bloom_prefilter",  # round 11: literal-bloom scan filter + exact join
    "eval_auc_delong_paired",  # round 11: distinct-score DeLong paired AUC
    "pipeline_dataset_card",  # round 11: single-pass ROLLUP corpus card
]


def spin_sec() -> float:
    """Wall time of a fixed single-thread Python workload (~0.12 s quiet).

    Measured once per benched key (not just per run): two consecutive driver
    benches (r6, r7) carried CPU-contention warnings, making cross-round
    comparisons an argument from env markers. A per-key spin sample lets the
    normalized column discount contention at the moment each key ran."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return round(time.perf_counter() - t0, 4)


def time_key(spark, fn, sf_dir: str) -> float:
    """Wall seconds of one ``fn(spark, sf_dir)`` run into a noop sink: full
    executor-side materialization without driver transfer, so the query is
    timed, not py4j row serialization. Every timing tool uses this one
    function, so a tool's number and the bench's number mean the same."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def env_markers(sf_dir: str) -> dict:
    """Environment-noise markers (VERDICT r3 action): lets a reader tell a
    real perf regression from a loaded/cold-cache box without a rerun.

    - loadavg: >~ncpus at start means the box was already busy.
    - spin_sec: wall time of a FIXED single-thread Python workload (~0.1s on
      an idle box); 2x the usual value means ~2x CPU contention, and the
      query timings should be discounted accordingly.
    - scan_mb_per_s: byte-read throughput of the largest input parquet.
      Hundreds of MB/s+ = page-cache-warm; low tens = cold disk (and this
      probe itself then warms the cache before the timed runs).
    """
    m: dict = {}
    try:
        m["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    m["spin_sec"] = spin_sec()
    try:
        biggest = max(
            (os.path.join(sf_dir, f) for f in os.listdir(sf_dir) if f.endswith(".parquet")),
            key=os.path.getsize,
        )
        t0 = time.perf_counter()
        with open(biggest, "rb") as fh:
            n = len(fh.read())
        dt = time.perf_counter() - t0
        m["scan_mb_per_s"] = round(n / 1e6 / dt, 1) if dt > 0 else None
    except (OSError, ValueError):
        pass
    return m


# Quiet-box gating constants (VERDICT r5 item 1). SPIN_REF_SEC is the spin
# marker recorded on the quiet reference box (r4/r5 quiet readings: 0.10-0.16s);
# a run whose spin deviates >25% from this, or whose 1-min loadavg starts above
# LOADAVG_GATE, is either retried (after a short settle sleep) or — if the box
# never settles within the retry budget — annotated loudly in the JSON so a
# reader can discount the timings without a rerun.
LOADAVG_GATE = 1.5
SPIN_REF_SEC = 0.12
SPIN_TOL = 0.25
SETTLE_RETRIES = 6
SETTLE_SLEEP_SEC = 15


def wait_for_quiet_box(sf_dir: str) -> tuple[dict, list[str]]:
    """Re-measure env markers until the box looks quiet, or budget runs out.

    Returns (markers, warnings). Empty warnings == clean recording conditions;
    non-empty means the timings below were taken on a contended box and should
    be read against the env block, not at face value.
    """
    m = env_markers(sf_dir)
    for _ in range(SETTLE_RETRIES):
        load_ok = m.get("loadavg", [0])[0] <= LOADAVG_GATE
        spin_ok = m.get("spin_sec", 0) <= SPIN_REF_SEC * (1 + SPIN_TOL)
        if load_ok and spin_ok:
            return m, []
        time.sleep(SETTLE_SLEEP_SEC)
        m = env_markers(sf_dir)
    warnings = []
    if m.get("loadavg", [0])[0] > LOADAVG_GATE:
        warnings.append(
            f"loadavg {m['loadavg'][0]} > {LOADAVG_GATE} after "
            f"{SETTLE_RETRIES * SETTLE_SLEEP_SEC}s settle budget — box contended"
        )
    if m.get("spin_sec", 0) > SPIN_REF_SEC * (1 + SPIN_TOL):
        warnings.append(
            f"spin_sec {m['spin_sec']} deviates >{int(SPIN_TOL * 100)}% from "
            f"reference {SPIN_REF_SEC} — CPU contention, discount timings"
        )
    return m, warnings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    env_before, env_warnings = wait_for_quiet_box(sf_dir)
    spark = get_spark("swallow_spark_bench", cpus=cpus)
    qs = declared_queries()
    names = [n for n in HEADLINE if n in qs]
    time_key(spark, qs["limit_topn"].fn, sf_dir)  # warm the JVM + parquet footers

    # Page-cache pre-warm of EVERY input table (the r3 driver bench ran on
    # a cold cache and uniformly inflated the first keys ~1.5x; the env
    # markers make that visible, this makes it not happen).
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            try:
                with open(os.path.join(sf_dir, f), "rb") as fh:
                    fh.read()
            except OSError:
                pass

    # BASELINE.md protocol: warm-up + median of 3 timed runs per key.
    # Per-key fault isolation: one crashing query must not zero out the
    # whole bench record (round 2 lost its BENCH to a single load error).
    timings: dict[str, float] = {}
    normalized: dict[str, float] = {}
    spins: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench:{name}")
        try:
            sp = spin_sec()
            runs = sorted(time_key(spark, qs[name].fn, sf_dir) for _ in range(3))
            timings[name] = round(runs[1], 3)
            spins[name] = sp
            # contention-discounted reading: median / (spin at that moment /
            # quiet reference). On a quiet box ratio ≈ 1 and the two columns
            # agree; under contention the normalized column is comparable
            # across rounds while the raw column is comparable to BASELINE.md
            normalized[name] = round(runs[1] / max(sp / SPIN_REF_SEC, 1.0), 3)
        except Exception as e:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:300]
    total = round(sum(timings.values()), 3)
    total_normalized = round(sum(normalized.values()), 3)

    # VERDICT r11 item 6 (disclosure): the process-level edge-view cache
    # (graph.py _EDGE_CACHE) makes every graph key's TIMED runs exclude the
    # shared co-purchase edge expansion, which is built once per session.
    # Build it here, explicitly timed, BEFORE any graph key has run (cold
    # within this session), and report the seconds as their own line so a
    # reader of BENCH_r*.json can see exactly what the graph keys' timings
    # exclude. A standalone execution of one graph key would pay this once.
    from swallow_spark.queries.graph import _edges

    spark.sparkContext.setJobDescription("bench: shared edge-view build (excluded from graph key timings)")
    edge_build = round(time_key(spark, _edges, sf_dir), 3)

    # Extended heavies: one unrecorded warm-up run each (codegen compile +
    # persisted-intermediate build), then the same median-of-3 protocol.
    extended: dict[str, float] = {}
    extended_normalized: dict[str, float] = {}
    for name in (n for n in EXTENDED if n in qs):
        spark.sparkContext.setJobDescription(f"bench-ext:{name}")
        try:
            time_key(spark, qs[name].fn, sf_dir)
            sp = spin_sec()
            runs = sorted(time_key(spark, qs[name].fn, sf_dir) for _ in range(3))
            extended[name] = round(runs[1], 3)
            extended_normalized[name] = round(
                runs[1] / max(sp / SPIN_REF_SEC, 1.0), 3
            )
        except Exception as e:  # noqa: BLE001 — record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:300]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    extended_total = round(sum(extended.values()), 3)
    extended_total_normalized = round(sum(extended_normalized.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "value_spin_normalized": total_normalized,
        "queries_spin_normalized": normalized,
        "per_key_spin_sec": spins,
        "spin_ref_sec": SPIN_REF_SEC,
        "extended": extended,
        "extended_total": extended_total,
        "extended_spin_normalized": extended_normalized,
        "extended_total_spin_normalized": extended_total_normalized,
        "edge_cache_build_sec": edge_build,
        "env": {"before": env_before, "after": env_markers(sf_dir)},
    }
    if env_warnings:
        out["env_warnings"] = env_warnings
    if errors:
        out["errors"] = errors
    # The harness stores only the TAIL of this line (~2000 chars), so the
    # numbers that matter are re-emitted as the LAST dict key (json.dumps
    # preserves insertion order) — tail-truncation keeps them. VERDICT r11
    # item 2: two consecutive rounds had NO driver-computable per-query
    # speedups because the headline and extended per-key dicts never both
    # survived the tail. The mirror therefore carries the RAW seconds of
    # BOTH per-key dicts (what the driver's PERF comparison consumes) and
    # nothing else: raw headline (722 ch) + raw extended (751 ch) + the
    # fixed totals (219 ch) ≈ 1.7k ≤ the 2000-char tail. The normalized
    # per-key dicts still exist in full near the front of the line (and in
    # the parsed record when the driver can parse the whole line); they are
    # no longer duplicated here because all four dicts together (~3.2k)
    # cannot fit and raw is the comparable column.
    out["totals"] = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "value_spin_normalized": total_normalized,
        "extended_total": extended_total,
        "extended_total_spin_normalized": extended_total_normalized,
        "spin_ref_sec": SPIN_REF_SEC,
        "n_errors": len(errors),
        "edge_build": edge_build,
        "queries": timings,
        "extended": extended,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
