"""Per-layer tracing from the benchmark's own files.

Three sources, all public:

- ``LayerClock`` wraps the module attributes of each layer's entry point
  (``swallow_spark.io.load``, ``session.conform_session``,
  ``ops.materialize.materialize``, ``ops.parallel.fan_out``,
  ``Pipeline.run``) and counts calls and seconds. ``install`` must run
  before the registry imports the query modules, so that their
  ``from ..io import load`` style imports bind the wrappers;
- ``fold_status`` reads ``SparkContext.statusTracker()`` per job group;
- ``fold_event_log`` folds an uncompressed, non-rolling Spark event log into
  totals per job group.
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter, defaultdict


class LayerClock:
    """Calls and seconds per layer, read and reset with ``take``."""

    def __init__(self) -> None:
        self.calls: Counter = Counter()
        self.secs: Counter = Counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls[name] += 1
                self.secs[name] += time.perf_counter() - t0

        return timed

    def take(self) -> tuple[Counter, Counter]:
        calls, secs = self.calls, self.secs
        self.calls, self.secs = Counter(), Counter()
        return calls, secs


def install(clock: LayerClock) -> None:
    """Wrap each layer's entry point on its module, before any importer binds it."""
    from swallow_spark import session

    session.conform_session = clock.wrap("session.conform", session.conform_session)

    from swallow_spark import io

    io.load = clock.wrap("io.load", io.load)

    from swallow_spark.ops import materialize, parallel

    materialize.materialize = clock.wrap("ops.materialize", materialize.materialize)
    fan_out = parallel.fan_out

    def counted_fan_out(df, *args, **kwargs):
        out = fan_out(df, *args, **kwargs)
        if out is not df:
            clock.calls["ops.fan_out.repartitioned"] += 1
        return out

    parallel.fan_out = clock.wrap("ops.fan_out", functools.wraps(fan_out)(counted_fan_out))

    from swallow_spark.pipeline import Pipeline

    Pipeline.run = clock.wrap("pipeline.run", Pipeline.run)


def fold_status(sc, groups: list[str]) -> dict[str, Counter]:
    """Jobs, stages that ran, tasks and failed tasks per job group.

    A stage is counted once, with the first job (by id) that lists it, so a
    skipped stage reused by a later job is not counted twice."""
    tracker = sc.statusTracker()
    jobs = sorted(
        (j, g) for g in groups for j in tracker.getJobIdsForGroup(g)
    )
    seen: set[int] = set()
    out: dict[str, Counter] = defaultdict(Counter)
    for job_id, group in jobs:
        info = tracker.getJobInfo(job_id)
        out[group]["jobs"] += 1
        if info is None:
            continue
        for stage_id in info.stageIds:
            if stage_id in seen:
                continue
            seen.add(stage_id)
            st = tracker.getStageInfo(stage_id)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its tasks ran under an earlier job
            out[group]["stages"] += 1
            out[group]["tasks"] += st.numCompletedTasks
            out[group]["failed_tasks"] += st.numFailedTasks
    return out


# SQL metric names of the Python-worker exec nodes, and the layer keys they
# fold into.
_PY_METRICS = {
    "data sent to Python workers": "python_workers.sent_bytes",
    "data returned from Python workers": "python_workers.returned_bytes",
    "time to run Python workers": "python_workers.run_s",
    "time to start Python workers": "python_workers.start_s",
}
_UNIT = {"nsTiming": 1e-9, "timing": 1e-3}


def _plan_metrics(node: dict, types: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        types[m["accumulatorId"]] = m.get("metricType", "")
    for child in node.get("children", ()):
        _plan_metrics(child, types)


def fold_event_log(lines) -> dict[str, Counter]:
    """Fold event-log JSON lines into per-job-group totals.

    Keys: ``executor.run_s``, ``executor.cpu_s``, ``executor.gc_s``,
    ``io.scan_bytes``, ``io.scan_records``, ``io.write_bytes``, ``shuffle.write_bytes``,
    ``shuffle.read_bytes``, ``shuffle.fetch_wait_s``, ``spill.bytes`` and the
    ``python_workers.*`` values of ``_PY_METRICS``."""
    stage_group: dict[int, str] = {}
    acc_type: dict[int, str] = {}
    out: dict[str, Counter] = defaultdict(Counter)
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metrics(ev.get("sparkPlanInfo", {}), acc_type)
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if group is None or tm is None:
                continue
            c = out[group]
            c["executor.run_s"] += tm["Executor Run Time"] / 1e3
            c["executor.cpu_s"] += tm["Executor CPU Time"] / 1e9
            c["executor.gc_s"] += tm["JVM GC Time"] / 1e3
            c["io.scan_bytes"] += tm["Input Metrics"]["Bytes Read"]
            c["io.scan_records"] += tm["Input Metrics"]["Records Read"]
            c["io.write_bytes"] += tm["Output Metrics"]["Bytes Written"]
            c["shuffle.write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = tm["Shuffle Read Metrics"]
            c["shuffle.read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            c["shuffle.fetch_wait_s"] += rd["Fetch Wait Time"] / 1e3
            c["spill.bytes"] += tm["Disk Bytes Spilled"]
            for acc in ev["Task Info"].get("Accumulables", ()):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is not None and "Update" in acc:
                    scale = _UNIT.get(acc_type.get(acc["ID"], ""), 1)
                    c[key] += int(acc["Update"]) * scale
    return out
