"""One benchmark process: set up a Spark session, run timed passes, check outputs.

Started by ``run.py`` with the checkout root as its working directory; it
writes its measurements as JSON to ``--out``. Everything it writes stays
under ``--scratch``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import shutil
import sys
import time
from pathlib import Path
from typing import NoReturn

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), os.getcwd(), os.path.join(os.getcwd(), "tools")]

import layers  # noqa: E402
from workloads import PIPELINE_RUN, WORKLOADS  # noqa: E402

GRAPH_PREFIX = "graph_"
# Timed passes run until --seconds have passed and at least this many are
# done; wall_s is their median, so passes hit by a burst of host contention,
# or the first ones while the JIT still settles, are outvoted.
MIN_PASSES = 5
WARMUP_PASSES = 4


def pass_order(ops: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The seed permutes the operation order within each pass."""
    order = list(ops)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_children() -> list[int]:
    me = os.getpid()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm_end = stat.rindex(")")
        comm = stat[stat.index("(") + 1 : comm_end]
        ppid = int(stat[comm_end + 2 :].split()[1])
        if ppid == me and comm == "java":
            found.append(int(entry))
    return found


def dir_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


class Runner:
    """Runs one operation at a time, each phase under its own job group."""

    def __init__(self, spark, queries, sf_dir: str, pipeline) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.sf_dir = sf_dir
        self.pipeline = pipeline

    def run(self, op: str, tag: str) -> tuple[float, float]:
        """Run one operation; return (seconds until fn returned, action seconds).

        ``Pipeline.run`` builds and writes in one call, so all of it is action."""
        if op == PIPELINE_RUN:
            self.sc.setJobGroup(f"{tag}.act", op)
            t0 = time.perf_counter()
            self.pipeline.run(self.spark)
            return 0.0, time.perf_counter() - t0
        self.sc.setJobGroup(f"{tag}.plan", op)
        t0 = time.perf_counter()
        df = self.queries[op].fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        self.sc.setJobGroup(f"{tag}.act", op)
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def check(self, op: str, tag: str) -> str:
        """Run one operation and return the oracle-comparable digest of its output."""
        from oracle_diff import canon_pdf, digest  # tools/oracle_diff.py

        self.sc.setJobGroup(tag, op)
        if op == PIPELINE_RUN:
            self.pipeline.run(self.spark)
            df = self.spark.read.parquet(self.pipeline.sink.path)
        else:
            df = self.queries[op].fn(self.spark, self.sf_dir)
        return digest(canon_pdf(df.toPandas()))


def pipeline_with_sink(spark, queries, sf_dir: str, path: str):
    """``pipeline_api``'s own Pipeline, with a ParquetSink partitioned by yr."""
    from swallow_spark import pipeline as pl

    captured = []
    to_df = pl.Pipeline.to_df

    def spy(self, session):
        captured.append(self)
        return to_df(self, session)

    pl.Pipeline.to_df = spy
    try:
        queries["pipeline_api"].fn(spark, sf_dir)
    finally:
        pl.Pipeline.to_df = to_df
    return dataclasses.replace(captured[0], sink=pl.ParquetSink(path, partition_by=("yr",)))


def check_pass(runner: Runner, ops: tuple[str, ...], seed: int, expected: dict) -> list[str]:
    """The untimed pass after the timed ones: every operation's output is
    hashed and compared with the DuckDB oracle's, so state the timed passes
    left behind (process-level caches, sink contents) is checked too."""
    mismatched = []
    for i, op in enumerate(pass_order(ops, seed, -1 - WARMUP_PASSES)):
        try:
            got = runner.check(op, f"pb.check.{i}")
        except Exception as e:  # noqa: BLE001 -- a failing op is reported, not fatal
            got = f"{type(e).__name__}: {e}"
        if got != expected[op]:
            mismatched.append(op)
            print(f"check {op}: {got} != oracle {expected[op]}", file=sys.stderr)
    return mismatched


def run_pass(runner: Runner, ops: tuple[str, ...], seed: int, p: int, tag: str) -> list[dict]:
    """One pass in the seed's order; a failing operation is recorded, not fatal."""
    done = []
    for i, op in enumerate(pass_order(ops, seed, p)):
        try:
            plan_s, action_s = runner.run(op, f"{tag}.{i}")
            done.append({"op": op, "plan_s": plan_s, "action_s": action_s})
        except Exception as e:  # noqa: BLE001 -- counted as a failed operation
            done.append({"op": op, "failed": True})
            print(f"{tag} {op}: {type(e).__name__}: {e}", file=sys.stderr)
    return done


def timed_passes(runner: Runner, ops: tuple[str, ...], seed: int, seconds: float,
                 clock, io_root: str) -> list[dict]:
    """Closed loop: one operation at a time, whole passes, until ``seconds``
    have passed and at least ``MIN_PASSES`` passes are done."""
    passes: list[dict] = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        p = len(passes)
        t_pass = time.perf_counter()
        done = run_pass(runner, ops, seed, p, f"pb.{p}")
        rec = {"wall_s": time.perf_counter() - t_pass, "ops": done}
        if clock is not None:
            calls, secs = clock.take()
            rec["calls"], rec["secs"] = dict(calls), dict(secs)
            rec["write_files"], rec["stored_bytes"] = dir_usage(io_root)
        passes.append(rec)
    return passes


def finish(res: dict, out: str) -> NoReturn:
    """Write the result and leave at once: without ``spark.stop()`` the JVM
    ends when its stdin closes, about a second sooner. ``run.py`` waits for
    the whole process group either way."""
    Path(out).write_text(json.dumps(res))
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


def main(argv: list[str] | None = None) -> NoReturn:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    launched = float(os.environ["PERFBENCH_LAUNCH"])
    res: dict = {}

    clock = None
    if args.trace:
        clock = layers.LayerClock()
        layers.install(clock)

    from swallow_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    res["session.get_spark_s"] = time.perf_counter() - t0

    from swallow_spark.registry import declared_queries

    t0 = time.perf_counter()
    queries = declared_queries()
    res["registry.import_s"] = time.perf_counter() - t0

    from swallow_spark.queries import sources_sinks

    io_root = os.path.join(args.scratch, "io")
    shutil.rmtree(io_root, ignore_errors=True)
    os.makedirs(io_root)
    sources_sinks._IO_ROOT = io_root  # the write keys' output root
    for name in sorted(os.listdir(args.sf_dir)):
        with open(os.path.join(args.sf_dir, name), "rb") as fh:
            fh.read()  # page-cache warm of the read-only fixture
    res["boot_s"] = time.monotonic() - launched

    wl = WORKLOADS[args.workload]
    sc = spark.sparkContext
    t_setup = time.perf_counter()
    pipe = None
    if PIPELINE_RUN in wl.ops:
        pipe = pipeline_with_sink(spark, queries, args.sf_dir, os.path.join(io_root, "pipeline_sink"))
    runner = Runner(spark, queries, args.sf_dir, pipe)
    if any(op.startswith(GRAPH_PREFIX) for op in wl.ops):
        # The shared co-purchase edge view is a process-level cache every
        # graph key starts from; build it here, timed, as set-up work.
        from swallow_spark.queries.graph import _edges

        sc.setJobGroup("pb.setup.edges", "edge view")
        t0 = time.perf_counter()
        _edges(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        res["graph.edge_view_build_s"] = time.perf_counter() - t0
    # Unrecorded warm-up passes: the first is cold (class loading, codegen,
    # the fixture's first scans, the Python workers' start); the passes
    # after it still shrink while the JIT compiles, for about three more.
    for w in range(WARMUP_PASSES):
        run_pass(runner, wl.ops, args.seed, -1 - w, f"pb.warm{w}")
    res["warmup_s"] = time.perf_counter() - t_setup
    if clock is not None:
        clock.take()

    passes = timed_passes(runner, wl.ops, args.seed, args.seconds, clock, io_root)
    res["passes"] = passes
    res["peak_rss_mb"] = vm_hwm_mb("self") + sum(vm_hwm_mb(pid) for pid in jvm_children())
    res["stored_bytes"] = dir_usage(io_root)[1]
    expected = json.loads(Path(args.expected).read_text())
    res["mismatched"] = check_pass(runner, wl.ops, args.seed, expected)

    if args.trace:
        groups = [f"pb.{p}.{i}.{ph}" for p in range(len(passes))
                  for i in range(len(wl.ops)) for ph in ("plan", "act")]
        res["status"] = {g: dict(c) for g, c in layers.fold_status(sc, groups).items()}
        log_path = os.path.join(args.scratch, "eventlog", sc.applicationId)
        spark.stop()  # closes the event log
        with open(log_path) as fh:
            res["events"] = {g: dict(c) for g, c in layers.fold_event_log(fh).items()}
    finish(res, args.out)


if __name__ == "__main__":
    main()
