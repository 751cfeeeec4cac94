"""Core-count scaling table at a builder-generated SF (round 12, VERDICT
r11 item 4).

At the driver's largest SF (sf0.1) every headline query is fixed-overhead
dominated: the r11 driver measured every 8-vs-32-core ratio at 0.68-1.02,
so none of the round-11 parallelism claims had a measured point where
parallel work exists. This tool runs the given keys at two core counts on
a scaled dataset (tools/make_scaled_sf.py) in two SEPARATE Spark sessions
(one per core count — master is fixed at session start), warm median-of-3
to a noop sink, and prints per-key seconds and the high/low-core speedup.

The two sessions run back-to-back per batch, so box drift between them is
bounded by the batch length; the spin marker is sampled per key and
reported so a contended reading is visible.

Usage:
  python tools/scaling_table.py [--sf DIR] [--cores 8,32] key1 [key2 ...]

Runs each core count in a SUBPROCESS (a JVM's master cannot change after
start), so one invocation produces the whole table.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _worker(sf: str, cpus: int, keys: list[str]) -> None:
    from bench import spin_sec, time_key  # noqa: E402

    from swallow_spark.registry import all_queries  # noqa: E402
    from swallow_spark.session import get_spark  # noqa: E402

    spark = get_spark(f"scaling_c{cpus}", cpus=cpus)
    qs = all_queries()
    out: dict[str, dict] = {}
    for name in keys:
        spark.sparkContext.setJobDescription(f"scaling:{name}:c{cpus}")
        try:
            # warm (codegen + page cache + shared intermediates)
            time_key(spark, qs[name].fn, sf)
            sp = spin_sec()
            runs = sorted(time_key(spark, qs[name].fn, sf) for _ in range(3))
            out[name] = {"sec": round(runs[1], 3), "spin": sp}
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    print("SCALING_JSON " + json.dumps({"cpus": cpus, "keys": out}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], int(sys.argv[3]), sys.argv[4:])
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/swallow_sf1")
    ap.add_argument("--cores", default="8,32")
    ap.add_argument(
        "--isolate",
        action="store_true",
        help="one subprocess per (key, cores): standalone-execution "
        "semantics — no shared edge cache, no storage pressure from "
        "earlier keys evicting this key's localCheckpoint blocks (a "
        "12-key shared session at sf1 measured exactly that failure)",
    )
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()
    cores = [int(c) for c in args.cores.split(",")]
    results: dict[int, dict] = {}
    for c in cores:
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_CPUS", None)
        batches = [[k] for k in args.keys] if args.isolate else [list(args.keys)]
        acc: dict = {}
        for batch in batches:
            p = subprocess.run(
                [sys.executable, __file__, "--worker", args.sf, str(c), *batch],
                capture_output=True,
                text=True,
                env=env,
                cwd=str(REPO),
            )
            line = next(
                (l for l in p.stdout.splitlines() if l.startswith("SCALING_JSON ")),
                None,
            )
            if line is None:
                print(f"cores={c} batch={batch}: worker failed\n{p.stdout[-1500:]}\n{p.stderr[-1500:]}")
                sys.exit(1)
            acc.update(json.loads(line[len("SCALING_JSON "):])["keys"])
        results[c] = acc
    lo, hi = min(cores), max(cores)
    print(f"\nsf_dir={args.sf}  cores {lo} vs {hi} (warm median-of-3, noop sink)")
    print(f"{'key':34s} {f'c{lo} s':>8s} {f'c{hi} s':>8s} {'speedup':>8s}  spin lo/hi")
    for k in args.keys:
        a, b = results[lo].get(k, {}), results[hi].get(k, {})
        if "sec" in a and "sec" in b:
            print(
                f"{k:34s} {a['sec']:8.3f} {b['sec']:8.3f} "
                f"{a['sec'] / b['sec']:8.2f}  {a['spin']:.2f}/{b['spin']:.2f}"
            )
        else:
            print(f"{k:34s} ERROR {a.get('error') or b.get('error')}")


if __name__ == "__main__":
    main()
