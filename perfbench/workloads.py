"""The benchmark's workloads: which operations one pass submits, and why.

An operation is one registered query key -- ``fn(spark, sf_dir)`` followed by
a ``noop`` write -- or ``PIPELINE_RUN``: one ``Pipeline.run()`` built from
``pipeline_api``'s steps with a ``ParquetSink`` partitioned by ``yr``.
"""

from __future__ import annotations

from dataclasses import dataclass

# Seed of the fixture generator. The fixture is fixed per benchmark version
# so the DuckDB oracle digests can be computed once per checkout; the run
# seed permutes the operation order instead.
FIXTURE_SEED = 42

PIPELINE_RUN = "pipeline_run"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float  # fixture scale: lineitem = 6 M x sf rows
    ops: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="relational_etl",
            why=(
                "short scan, join, aggregate and window queries plus writes "
                "and a Pipeline run: driver-side load, conformance and plan "
                "construction dominate"
            ),
            sf=0.1,
            ops=(
                "agg_pricing_summary",
                "join_multiway_star",
                "join_inner_hash",
                "win_row_number_topk",
                "limit_topn",
                "sink_partitioned",
                PIPELINE_RUN,
            ),
        ),
        Workload(
            name="llm_graph",
            why=(
                "LLM-data operators and iterative graph keys: Python "
                "workers, fan_out repartitions, ANN rescoring and "
                "materialize loops dominate"
            ),
            # sf0.01: at sf0.1 one pass of these keys outgrows the run budget
            sf=0.01,
            ops=(
                "sim_cosine_topk",
                "vec_ann_ivf_batch_rescore",
                "graph_kcore",
            ),
        ),
    )
}
