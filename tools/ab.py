"""Per-key warm timing and interleaved env-flag A/B, on bench.time_key.

Every run goes through ``bench.time_key`` (noop sink, query timed rather than
py4j row transfer), so a number printed here and a number in the bench
record mean the same thing. Job and stage counts come from the Spark
statusTracker of one recorded run; unlike wall-clock they do not drift
with host contention.

    python tools/ab.py key1 [key2 ...]
        per key: one unrecorded warm-up (codegen, edge caches), then the
        median of 3 runs (bench.py's protocol), the spin marker, and the
        jobs and stages one run submits.

    python tools/ab.py --env VAR key1 [key2 ...]
        per key: flips VAR between "1" and "0" inside ONE Spark session
        (the flag must be read at plan-construction time), warms each arm
        once unrecorded, then alternates 1/0 for AB_ROUNDS rounds so both
        arms sample the same seconds of box noise. Prints per arm the
        median, the mean without the top-2 runs (a contention burst that
        lands in one arm is dropped instead of deciding the verdict), and
        jobs and stages, plus the spin marker sampled after the rounds.

The fixture directory is $SPARK_GRAFT_SF_DIR and the core count
$SPARK_GRAFT_CPUS, as for bench.py.
"""

from __future__ import annotations

import argparse
import itertools
import os
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import spin_sec, time_key  # noqa: E402

from swallow_spark.io import DEFAULT_SF_DIR  # noqa: E402
from swallow_spark.registry import all_queries  # noqa: E402
from swallow_spark.session import get_spark  # noqa: E402

RUNS = 3
AB_ROUNDS = 8
_GROUPS = itertools.count()


def counted(spark, fn) -> tuple[float, int, int]:
    """time_key inside a fresh job group: (seconds, jobs, stages)."""
    sc = spark.sparkContext
    group = f"ab_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        sec = time_key(spark, fn, DEFAULT_SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group) or []
    stages = sum(len(info.stageIds) for info in map(tr.getJobInfo, jobs) if info)
    return sec, len(jobs), stages


def trimmed_mean(runs: list[float]) -> float:
    kept = sorted(runs)[: max(1, len(runs) - 2)]
    return sum(kept) / len(kept)


def fmt(runs: list[float]) -> str:
    return str([round(r, 3) for r in sorted(runs)])


def time_one(spark, name: str, fn) -> None:
    time_key(spark, fn, DEFAULT_SF_DIR)  # warm-up, unrecorded
    sp = spin_sec()
    sec, jobs, stages = counted(spark, fn)
    runs = [sec] + [time_key(spark, fn, DEFAULT_SF_DIR) for _ in range(RUNS - 1)]
    print(
        f"{name}: median {statistics.median(runs):.3f}s jobs={jobs} "
        f"stages={stages} (spin {sp:.3f}, runs {fmt(runs)})"
    )


def ab_one(spark, name: str, fn, env: str) -> None:
    arms = ("1", "0")
    for arm in arms:  # warm both plan variants, unrecorded
        os.environ[env] = arm
        time_key(spark, fn, DEFAULT_SF_DIR)
    runs: dict[str, list[float]] = {arm: [] for arm in arms}
    counts: dict[str, tuple[int, int]] = {}
    for i in range(AB_ROUNDS):
        for arm in arms:
            os.environ[env] = arm
            if i == 0:
                sec, jobs, stages = counted(spark, fn)
                counts[arm] = (jobs, stages)
            else:
                sec = time_key(spark, fn, DEFAULT_SF_DIR)
            runs[arm].append(sec)
    print(f"{name}: (spin {spin_sec():.3f})")
    for arm in arms:
        jobs, stages = counts[arm]
        print(
            f"  {env}={arm} median {statistics.median(runs[arm]):.3f}s "
            f"trimmed {trimmed_mean(runs[arm]):.3f}s jobs={jobs} "
            f"stages={stages} runs {fmt(runs[arm])}"
        )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--env", metavar="VAR", help="A/B this env flag, 1 vs 0")
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()
    spark = get_spark("ab")
    qs = all_queries()
    for name in args.keys:
        spark.sparkContext.setJobDescription(f"ab:{name}")
        if args.env:
            ab_one(spark, name, qs[name].fn, args.env)
        else:
            time_one(spark, name, qs[name].fn)


if __name__ == "__main__":
    main()
