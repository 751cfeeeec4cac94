"""The workload lists and BENCHMARK.json agree with the registry and run.py."""

from __future__ import annotations

import json

import pytest
import run
from conftest import ROOT
from workloads import PIPELINE_RUN, WORKLOADS

from swallow_spark.registry import all_queries, declared_queries

OPS = sorted({op for w in WORKLOADS.values() for op in w.ops if op != PIPELINE_RUN})


@pytest.mark.parametrize("op", OPS)
def test_op_is_a_declared_key_with_an_oracle(op):
    assert op in declared_queries(), f"{op} is not a declared registry key"
    assert all_queries()[op].oracle, f"{op} has no DuckDB oracle"


def test_pipeline_run_is_checked_against_pipeline_api():
    uses = [w.name for w in WORKLOADS.values() if PIPELINE_RUN in w.ops]
    assert uses, "no workload runs the Pipeline"
    assert all_queries()["pipeline_api"].oracle


def test_benchmark_json_matches_the_harness():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_pass_order_is_a_seeded_permutation():
    from worker import pass_order

    ops = WORKLOADS["relational_etl"].ops
    assert sorted(pass_order(ops, 1, 0)) == sorted(ops)
    assert pass_order(ops, 1, 0) == pass_order(ops, 1, 0)
    assert any(pass_order(ops, s, 0) != pass_order(ops, 1, 0) for s in range(2, 6))
