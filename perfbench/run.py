"""Benchmark entry point: closed-loop workloads over the swallow_spark registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload relational_etl --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

One driver process submits one operation at a time on ``local[<cpus>]``.
The first run in a checkout generates the fixture and the DuckDB oracle
digests under ``.bench_build/perfbench``; later runs reuse them. A run then:

1. records ``bench.env_markers`` (loadavg, spin, scan MB/s);
2. untraced (``--trace 0``): one worker boots, runs four unrecorded warm-up
   passes, then timed passes (operation order permuted by ``--seed``) for
   ``--seconds`` and at least five passes, then one untimed pass that checks every operation's output
   against the oracle;
   traced (``--trace 1``): one untraced worker for the overhead baseline,
   then a traced worker with layer wrappers, statusTracker and event log,
   each measuring for half of ``--seconds``;
3. records the markers again, writes a record, prints a table and, as the
   last line, one JSON object.

It exits non-zero if any output misses the oracle or an operation raised.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
DEADLINE_S = 165.0  # workers' time budget once the inputs exist; a run ends within 3 minutes

sys.path.insert(0, str(HERE))
from workloads import FIXTURE_SEED, PIPELINE_RUN, WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.conform_calls": "count",
    "session.conform_s": "s",
    "registry.import_s": "s",
    "io.load_calls": "count",
    "io.load_s": "s",
    "io.scan_bytes": "bytes",
    "io.scan_records": "count",
    "io.write_bytes": "bytes",
    "io.write_files": "count",
    "io.stored_mb": "MB",
    "queries.plan_s": "s",
    "queries.action_s": "s",
    "queries.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.utilization": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "python_workers.sent_bytes": "bytes",
    "python_workers.returned_bytes": "bytes",
    "python_workers.run_s": "s",
    "python_workers.start_s": "s",
    "ops.materialize.calls": "count",
    "ops.materialize.s": "s",
    "ops.fan_out.calls": "count",
    "ops.fan_out.s": "s",
    "ops.fan_out.repartitioned_ratio": "ratio",
    "pipeline.run_s": "s",
    "graph.edge_view_build_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}


# LayerClock name -> (calls metric, seconds metric)
LAYER_CLOCKS = {
    "session.conform": ("session.conform_calls", "session.conform_s"),
    "io.load": ("io.load_calls", "io.load_s"),
    "ops.materialize": ("ops.materialize.calls", "ops.materialize.s"),
    "ops.fan_out": ("ops.fan_out.calls", "ops.fan_out.s"),
    "pipeline.run": (None, "pipeline.run_s"),
}


# ------------------------------------------------------------------ inputs


def _sha(*parts: str) -> str:
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()[:16]


def ensure_inputs(wl) -> tuple[Path, Path]:
    """The workload's fixture and its operations' oracle digests, built once."""
    import fixture

    tag = _sha((HERE / "fixture.py").read_text(), repr(wl.sf), repr(FIXTURE_SEED))
    sf_dir = BUILD / f"fixture-{tag}" / f"sf{wl.sf}"
    if not sf_dir.exists():
        tmp = BUILD / f"fixture-{tag}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        fixture.write(str(tmp / sf_dir.name), wl.sf, FIXTURE_SEED)
        for f in (tmp / sf_dir.name).iterdir():
            f.chmod(0o444)  # the program only ever sees read-only inputs
        os.replace(tmp, sf_dir.parent)

    from oracle_diff import canon_pdf, digest, duck_con  # tools/oracle_diff.py
    from swallow_spark.registry import declared_queries

    queries = declared_queries()
    cache_path = sf_dir.parent / "oracle.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    keys = {"pipeline_api" if op == PIPELINE_RUN else op for op in wl.ops}
    con = None
    for key in sorted(keys):
        sql = queries[key].oracle
        sql_tag = _sha(sql)
        if cache.get(key, {}).get("sql") != sql_tag:
            con = con or duck_con(str(sf_dir))
            cache[key] = {"sql": sql_tag, "digest": digest(canon_pdf(con.sql(sql).fetchdf()))}
    if con is not None:
        con.close()
        tmp = cache_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(cache, indent=1, sort_keys=True))
        os.replace(tmp, cache_path)
    expected = {op: cache["pipeline_api" if op == PIPELINE_RUN else op]["digest"] for op in wl.ops}
    exp_path = BUILD / f"expected-{wl.name}.json"
    exp_path.write_text(json.dumps(expected, sort_keys=True))
    return sf_dir, exp_path


# --------------------------------------------------------------- processes


def _group_members(pgid: int, zombies: bool = False) -> list[int]:
    members = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and (zombies or fields[0] != "Z"):
            members.append(int(entry))
    return members


def stop_group(pgid: int) -> None:
    """Wait for every process of the worker's group to end; signal stragglers."""
    for sig, grace in ((None, 15.0), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        end = time.monotonic() + grace
        while time.monotonic() < end:
            if not _group_members(pgid):
                _await_reaped(pgid)
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} did not end")


def _await_reaped(pgid: int, grace: float = 5.0) -> None:
    """The worker exits before its JVM, so the JVM ends as an orphan that
    init reaps; wait briefly for that, so no entry of the run outlives it."""
    end = time.monotonic() + grace
    while _group_members(pgid, zombies=True) and time.monotonic() < end:
        time.sleep(0.1)


class Launcher:
    def __init__(self, scratch: Path, deadline: float) -> None:
        self.scratch = scratch
        self.deadline = deadline
        tmp, local = scratch / "tmp", scratch / "local"
        for d in (tmp, local, scratch / "eventlog"):
            d.mkdir(parents=True, exist_ok=True)
        self.confs = {
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        self.trace_confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{scratch / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        # A fixed hash seed: set and dict orders, and so plans, do not
        # differ between worker processes.
        self.env = dict(os.environ, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local),
                        PYTHONHASHSEED="0")

    def run(self, tag: str, args: list[str], trace: bool = False) -> dict:
        confs = dict(self.confs, **(self.trace_confs if trace else {}))
        submit = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
        out = self.scratch / f"{tag}.json"
        env = dict(
            self.env,
            PYSPARK_SUBMIT_ARGS=shlex.join([*submit, "pyspark-shell"]),
            PERFBENCH_LAUNCH=repr(time.monotonic()),
        )
        cmd = [sys.executable, str(HERE / "worker.py"), *args, "--out", str(out)]
        with open(self.scratch / f"{tag}.log", "wb") as log:
            proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
        try:
            rc = proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc.pid)
            proc.wait()
        print(f"perfbench: worker {tag} took {time.monotonic() - float(env['PERFBENCH_LAUNCH']):.1f} s",
              file=sys.stderr)
        if rc != 0:
            raise RuntimeError(f"worker {tag} ended with {rc}; see {self.scratch / (tag + '.log')}")
        return json.loads(out.read_text())


# ----------------------------------------------------------------- metrics


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and its rank."""
    xs = sorted(values)
    k = max(len(xs) - 11, 0)
    return xs[k], 100.0 * (k + 1) / len(xs)


def end_to_end(main: dict) -> tuple[dict, dict, list]:
    """Bounded metrics, their sample counts, and unbounded context lines."""
    passes = main["passes"]
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            if "failed" not in o:
                by_op.setdefault(o["op"], []).append(o["plan_s"] + o["action_s"])
    samples = [x for xs in by_op.values() for x in xs] or [float("nan")]
    values = {
        "setup_s": main["boot_s"] + main["warmup_s"],
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        # median over operations of each one's median: the typical
        # operation, whatever number of passes fitted the window
        "op_p50_s": statistics.median(statistics.median(xs) for xs in by_op.values())
        if by_op else float("nan"),
    }
    counts = {"setup_s": 1, "wall_s": len(passes), "op_p50_s": len(samples)}
    tail_s, tail_pct = tail(samples)
    info = [
        ("op_tail_s", tail_s, "s", len(samples), f"p{tail_pct:.1f} of pooled operation latencies"),
        ("peak_rss_mb", main["peak_rss_mb"], "MB", 1, "VmHWM of driver Python + JVM"),
        ("stored_mb", main["stored_bytes"] / 1e6, "MB", 1, "bytes under the write outputs"),
    ]
    return values, counts, info


def per_layer(main: dict, base_wall: float, cpus: int) -> tuple[dict, dict]:
    """Per-pass means of every layer metric of a traced worker."""
    passes = main["passes"]
    n = len(passes)
    by_pass = [dict() for _ in passes]

    def add(p: int, key: str, value: float) -> None:
        by_pass[p][key] = by_pass[p].get(key, 0) + value

    for source in (main["status"], main["events"]):
        for group, counts in source.items():
            parts = group.split(".") if group else ()
            if len(parts) != 4 or not parts[1].isdigit():
                continue  # set-up and warm-up jobs
            p, phase = parts[1], parts[3]
            for k, v in counts.items():
                name = k if "." in k else f"spark.{k}"
                add(int(p), name, v)
                if name == "spark.jobs" and phase == "plan":
                    add(int(p), "queries.eager_jobs", v)
    for p, rec in enumerate(passes):
        calls, secs = rec["calls"], rec["secs"]
        for layer, (calls_key, secs_key) in LAYER_CLOCKS.items():
            if calls_key:
                add(p, calls_key, calls.get(layer, 0))
            add(p, secs_key, secs.get(layer, 0.0))
        fan_outs = calls.get("ops.fan_out", 0)
        add(p, "ops.fan_out.repartitioned_ratio",
            calls.get("ops.fan_out.repartitioned", 0) / fan_outs if fan_outs else 0.0)
        add(p, "queries.plan_s", sum(o.get("plan_s", 0.0) for o in rec["ops"]))
        add(p, "queries.action_s", sum(o.get("action_s", 0.0) for o in rec["ops"]))
        add(p, "io.write_files", rec["write_files"])
        add(p, "io.stored_mb", rec["stored_bytes"] / 1e6)
        add(p, "executor.utilization", by_pass[p].get("executor.run_s", 0.0) / (cpus * rec["wall_s"]))
    once = {
        "session.get_spark_s": main["session.get_spark_s"],
        "registry.import_s": main["registry.import_s"],
        "graph.edge_view_build_s": main.get("graph.edge_view_build_s", 0.0),
        "process.peak_rss_mb": main["peak_rss_mb"],
        "trace.overhead_ratio": statistics.median(p["wall_s"] for p in passes) / base_wall,
    }
    values = {k: once[k] if k in once else sum(bp.get(k, 0.0) for bp in by_pass) / n
              for k in PER_LAYER}
    counts = {k: 1 if k in once else n for k in PER_LAYER}
    return values, counts


# -------------------------------------------------------------------- main


def contended(before: dict, after: dict, cpus: int) -> bool:
    """The rule by which a run's timings are discounted: the box was already
    busy (1-minute load average above the CPU count) before the run, or the
    spin marker moved by more than ``bench.SPIN_TOL`` between before and
    after, i.e. contention changed while the run measured."""
    import bench

    lo, hi = sorted((before["spin_sec"], after["spin_sec"]))
    return hi > lo * (1 + bench.SPIN_TOL) or before.get("loadavg", [0.0])[0] > cpus


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from bench import env_markers

    cpus = len(os.sched_getaffinity(0))
    sf_dir, expected = ensure_inputs(WORKLOADS[name])
    deadline = time.monotonic() + DEADLINE_S
    scratch = BUILD / "run" / name
    shutil.rmtree(scratch, ignore_errors=True)
    launcher = Launcher(scratch, deadline)
    # A traced run starts two workers; each measures half the window, so the
    # run takes about as long as an untraced one plus a second set-up.
    window = seconds / 2 if trace else seconds
    common = ["--workload", name, "--seed", str(seed), "--seconds", str(window),
              "--sf-dir", str(sf_dir), "--expected", str(expected),
              "--scratch", str(scratch)]
    before = env_markers(str(sf_dir))
    if trace:
        base = launcher.run("base", common)
        main = launcher.run("traced", [*common, "--trace", "1"], trace=True)
        base_wall = statistics.median(p["wall_s"] for p in base["passes"])
        values, counts = per_layer(main, base_wall, cpus)
        info: list = []
    else:
        main = launcher.run("main", common)
        values, counts, info = end_to_end(main)
    after = env_markers(str(sf_dir))

    per_op = [o for p in main["passes"] for o in p["ops"]]
    attempted = len(per_op)
    failed = sum(1 for o in per_op if "failed" in o or o["op"] in main["mismatched"])
    return {
        "workload": name, "seed": seed, "trace": int(trace),
        "correct": failed == 0,
        "attempted": attempted, "failed": failed,
        "failed_op_ratio": failed / attempted,
        "mismatched": main["mismatched"],
        "values": values, "counts": counts, "info": info,
        "env": {"before": before, "after": after, "contended": contended(before, after, cpus)},
    }


def report(rec: dict, units: dict) -> None:
    print(f"== {rec['workload']}  seed={rec['seed']}  trace={rec['trace']}  "
          f"contended={rec['env']['contended']}")
    for k, unit in units.items():
        print(f"  {k:34s} {rec['values'][k]:>16.6g} {unit:6s} n={rec['counts'][k]}")
    print(f"  {'failed_op_ratio':34s} {rec['failed_op_ratio']:>16.6g} ratio  "
          f"n={rec['attempted']}")
    for k, v, unit, n, note in rec["info"]:
        print(f"  {k:34s} {v:>16.6g} {unit:6s} n={n}  ({note}; not bounded)")
    if rec["mismatched"]:
        print(f"  ORACLE MISMATCH: {', '.join(rec['mismatched'])}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*sorted(WORKLOADS), "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "swallow_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print("perfbench: run from the root of a swallow_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    units = PER_LAYER if args.trace else END_TO_END
    records = []
    for name in names:
        rec = run_workload(name, args.seed, args.seconds, bool(args.trace))
        records.append(rec)
        report(rec, units)
        rec_dir = BUILD / "records"
        rec_dir.mkdir(parents=True, exist_ok=True)
        (rec_dir / f"{name}-seed{args.seed}-trace{args.trace}-{time.time_ns()}.json"
         ).write_text(json.dumps(rec, indent=1))

    prefix = len(records) > 1
    metrics = {
        (f"{r['workload']}.{k}" if prefix else k): {"value": r["values"][k], "unit": u}
        for r in records for k, u in units.items()
    }
    correct = all(r["correct"] for r in records)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in records),
        "failed": sum(r["failed"] for r in records),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
