"""graph_pagerank is oracle-checked (exact int64 fixed-point ranks), but we
additionally validate the MATH against a dense numpy float reference on the
same edges at sf0.001 — the fixed-point truncation must stay within 1e-5 of
the real-number PageRank, or the formulation drifted. graph_kcore is
checked against an exact pandas peeling reference, on an edgeless graph,
at its round cap, and by the jobs its plan phase launches."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_T2

from swallow_spark.ops.materialize import materialize
from swallow_spark.queries.graph import _PR_R0, _edges, graph_pagerank
from swallow_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pr_rows(spark):
    return {
        r["node"]: r["rank_units"] / _PR_R0
        for r in graph_pagerank(spark, SF).collect()
    }


def _numpy_pagerank(edges: list[tuple[int, int]], iters: int = 5, d: float = 0.85):
    und = edges + [(b, a) for a, b in edges]
    nodes = sorted({n for e in und for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for s, _ in und:
        deg[idx[s]] += 1
    rank = np.ones(n)
    for _ in range(iters):
        nxt = np.zeros(n)
        for s, t in und:
            nxt[idx[t]] += rank[idx[s]] / deg[idx[s]]
        rank = (1 - d) + d * nxt
    return {nodes[i]: rank[i] for i in range(n)}


def test_pagerank_matches_numpy_reference(spark, pr_rows):
    edges = [(r["src"], r["dst"]) for r in _edges(spark, SF).collect()]
    ref = _numpy_pagerank(edges)
    assert pr_rows, "pagerank returned no rows"
    for node, got in pr_rows.items():
        assert abs(got - ref[node]) < 1e-5, (node, got, ref[node])


def test_pagerank_top50_is_rank_sorted_and_deterministic(spark, pr_rows):
    again = {
        r["node"]: r["rank_units"] / _PR_R0
        for r in graph_pagerank(spark, SF).collect()
    }
    assert pr_rows == again  # rerun-stable, exact integer units


@pytest.mark.parametrize("sf", [SF, SF_T2], ids=["sf0.001", "sf0.01"])
def test_kcore_matches_pandas_peeling(spark, monkeypatch, sf):
    """graph_kcore vs an exact pandas peeling reference, plus the defining
    invariant: every core node's within-core degree >= k. sf0.001 is
    already a k-core; sf0.01 needs a peel round. The Spark loop runs
    exactly the rounds that remove a node (one materialize each), and the
    default cap is not hit."""
    import warnings

    import pandas as pd

    from swallow_spark.queries import graph

    e = _edges(spark, sf).toPandas()
    und = pd.concat(
        [e, e.rename(columns={"src": "dst", "dst": "src"})[["src", "dst"]]]
    )
    # k = floor(median / 2); pandas interpolated median and Spark exact
    # percentile agree on this integer distribution
    k = max(1, int(float(und.groupby("src").size().median())) // 2)
    rounds = 0
    while True:
        deg = und.groupby("src").size()
        keep = set(deg[deg >= k].index)
        nxt = und[und["src"].isin(keep) & und["dst"].isin(keep)]
        if len(nxt) == len(und):
            break
        und = nxt
        rounds += 1
    want = und.groupby("src").size().to_dict()

    cuts = []

    def counted(df):
        cuts.append(df)
        return materialize(df)

    monkeypatch.setattr(graph, "materialize", counted)
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message="graph_kcore")
        core = all_queries()["graph_kcore"].fn(spark, sf)
    got = {r["node"]: r["core_degree"] for r in core.collect()}
    assert got == want
    assert got  # the median-degree core must be non-empty
    assert all(d >= k for d in got.values())
    assert len(cuts) == rounds
    if sf == SF_T2:
        assert rounds >= 1


def test_kcore_warns_at_round_cap(spark, monkeypatch):
    """A loop stopped by the round cap with a node still below k says so."""
    from swallow_spark.queries import graph

    monkeypatch.setattr(graph, "_KCORE_ROUNDS", 0)
    with pytest.warns(RuntimeWarning, match="round cap"):
        graph.graph_kcore(spark, SF_T2)


def test_kcore_edgeless_graph_matches_oracle(spark, tmp_path):
    """One line per order gives no co-purchase edge: the core is empty,
    as in the oracle."""
    import sys
    from pathlib import Path

    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from oracle_diff import canon_pdf, digest

    li = tmp_path / "lineitem.parquet"
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (SELECT * FROM read_parquet('{SF}/lineitem.parquet')
              QUALIFY row_number() OVER (PARTITION BY l_orderkey
                                         ORDER BY l_partkey) = 1)
        TO '{li}' (FORMAT PARQUET)
        """
    )
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
    q = all_queries()["graph_kcore"]
    s_pdf = canon_pdf(q.fn(spark, str(tmp_path)).toPandas())
    d_pdf = canon_pdf(con.sql(q.oracle).fetchdf())
    con.close()
    assert list(s_pdf.columns) == list(d_pdf.columns)
    assert len(s_pdf) == len(d_pdf) == 0
    assert digest(s_pdf) == digest(d_pdf)


@pytest.mark.parametrize(
    "sf,max_jobs", [(SF, 3), (SF_T2, 10)], ids=["sf0.001", "sf0.01"]
)
def test_kcore_plan_phase_job_count(spark, jobs_launched, sf, max_jobs):
    """Building graph_kcore's plan runs one degree aggregate (k and min
    degree) plus one materialize and one min-degree check per peel round;
    no round only confirms the fixpoint and no eager count runs."""
    fn = all_queries()["graph_kcore"].fn
    fn(spark, sf)  # warm: schema inference and the shared edge view
    assert jobs_launched(lambda: fn(spark, sf)) <= max_jobs
