"""The event-log fold, pinned on a canned log cut from a real traced run.

``data/eventlog_cut.jsonl`` holds two operations of one timed pass of
``llm_graph`` (``vec_ann_ivf_batch_rescore`` and ``graph_kcore``): their job
starts, their task ends trimmed to the fields the fold reads, and one plan
event carrying the types of the Python-worker SQL metrics.
"""

from __future__ import annotations

import layers
import pytest
from conftest import BENCH

CUT = BENCH / "tests" / "data" / "eventlog_cut.jsonl"


def fold():
    with open(CUT) as fh:
        return layers.fold_event_log(fh)


def test_fold_groups_by_job_group():
    assert sorted(fold()) == ["pb.0.0.act", "pb.0.0.plan", "pb.0.1.act", "pb.0.1.plan"]


def test_fold_task_metrics():
    g = fold()["pb.0.1.plan"]
    assert g["executor.run_s"] == pytest.approx(0.611)
    assert g["executor.cpu_s"] == pytest.approx(0.541419483)
    assert g["io.scan_records"] == 2082354
    assert g["io.scan_bytes"] == 174873776
    assert g["shuffle.write_bytes"] == 131860
    assert g["shuffle.read_bytes"] == 218625
    assert g["spill.bytes"] == 0


def test_fold_python_worker_metrics_with_their_units():
    g = fold()["pb.0.0.plan"]
    assert g["python_workers.sent_bytes"] == 139296
    assert g["python_workers.returned_bytes"] == 1081696
    # "time to run Python workers" is a millisecond timing metric
    assert g["python_workers.run_s"] == pytest.approx(0.989)
    assert "python_workers.sent_bytes" not in fold()["pb.0.1.plan"]


def test_layer_clock_counts_calls_and_time():
    clock = layers.LayerClock()
    double = clock.wrap("x", lambda v: 2 * v)
    assert double(3) == 6 and double(4) == 8
    calls, secs = clock.take()
    assert calls["x"] == 2 and secs["x"] >= 0
    assert clock.take() == ({}, {})
