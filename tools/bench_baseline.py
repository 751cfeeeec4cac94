"""Record the per-key bench baseline for the regression gate (VERDICT r7
item 2).

Runs the headline + extended keys with bench.py's exact protocol (noop sink,
warm-up, median of 3) and writes tests/baselines/bench_quiet_baseline.json.
Each key's median is stored RAW plus the spin marker sampled just before it,
so the gate (tests/test_bench_regression.py) compares SPIN-NORMALIZED values
— box-speed-relative, usable even when the host is permanently slower than
the 0.12 s reference (observed: this host idles at spin ≈ 0.36 with loadavg
0 — a 3× slower CPU allocation, not our load).

Still refuses to record when the box is actively contended (loadavg high or
spin unstable across keys) unless --force: normalization corrects a FLAT
speed difference, not bursty noise.

Usage:  python tools/bench_baseline.py [--force]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from swallow_spark.registry import declared_queries  # noqa: E402
from swallow_spark.session import get_spark  # noqa: E402

OUT = Path(__file__).resolve().parent.parent / "tests/baselines/bench_quiet_baseline.json"
SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--force", action="store_true", help="record even if unstable")
    ap.add_argument(
        "--only",
        nargs="+",
        metavar="KEY",
        help="record just these keys and MERGE them into the existing "
        "baseline (normalized values are box-speed-relative by design, so "
        "an incremental add composes with the recorded 46 without "
        "re-recording them on a possibly-noisier box)",
    )
    args = ap.parse_args()

    load1 = os.getloadavg()[0]
    if load1 > 2.0 and not args.force:
        sys.exit(f"loadavg {load1:.2f} > 2 — box actively contended, not recording")

    spark = get_spark("bench_baseline", cpus=32)
    qs = declared_queries()
    names = [n for n in bench.HEADLINE + bench.EXTENDED if n in qs]
    if args.only:
        missing = [n for n in args.only if n not in names]
        if missing:
            sys.exit(f"--only keys not in HEADLINE+EXTENDED: {missing}")
        names = list(args.only)

    def run_once(name: str) -> float:
        return bench.time_key(spark, qs[name].fn, SF_DIR)

    run_once("limit_topn")
    medians: dict[str, float] = {}
    spins: dict[str, float] = {}
    for name in names:
        run_once(name)  # warm-up
        sp = bench.spin_sec()
        runs = sorted(run_once(name) for _ in range(3))
        medians[name] = round(runs[1], 3)
        spins[name] = sp
        print(f"{name}: {medians[name]} (spin {sp})", file=sys.stderr)

    spin_vals = sorted(spins.values())
    spin_med = spin_vals[len(spin_vals) // 2]
    spread = spin_vals[-1] / max(spin_vals[0], 1e-9)
    # run-min normalization is robust to isolated bursts, so only refuse on
    # genuinely bursty runs (the min itself is then untrustworthy)
    if spread > 2.0 and not args.force:
        sys.exit(
            f"spin spread {spread:.2f}× across keys — bursty contention, "
            "normalization unreliable; not recording"
        )

    # normalize with the RUN-MINIMUM spin: contention only ever slows the
    # spin loop, so the minimum across the run is the stable box-speed
    # estimate — a per-key burst must not deflate that key's baseline
    spin_min = spin_vals[0]
    normalized = {
        k: round(v / max(spin_min / bench.SPIN_REF_SEC, 1.0), 3)
        for k, v in medians.items()
    }
    if args.only and OUT.exists():
        rec = json.loads(OUT.read_text())
        rec["medians"].update(medians)
        rec["medians_spin_normalized"].update(normalized)
        rec["spin_per_key"].update(spins)
        rec["note"] = (
            rec.get("note", "")
            + f" | merged {sorted(medians)} at spin_min {spin_min} "
            f"({int(time.time())})"
        )
        OUT.write_text(json.dumps(rec, indent=1) + "\n")
        print(f"merged {sorted(medians)} into {OUT}", file=sys.stderr)
        return
    OUT.write_text(
        json.dumps(
            {
                "sf_dir": SF_DIR,
                "spin_median": spin_med,
                "spin_run_min": spin_min,
                "spin_per_key": spins,
                "spin_ref_sec": bench.SPIN_REF_SEC,
                "recorded_unix": int(time.time()),
                "medians": medians,
                "medians_spin_normalized": {
                    k: round(v / max(spin_min / bench.SPIN_REF_SEC, 1.0), 3)
                    for k, v in medians.items()
                },
                "note": (
                    "gate compares spin-normalized values using the "
                    "run-minimum spin; per-key spins kept for diagnostics. "
                    f"spread={spread:.2f}"
                ),
            },
            indent=1,
        )
        + "\n"
    )
    print(f"wrote {OUT}", file=sys.stderr)
    if statistics.median(spin_vals) > bench.SPIN_REF_SEC * 1.25:
        print(
            f"note: recorded on a slow/contended box (spin median "
            f"{spin_med}); gate uses normalized values so this is OK if the "
            "slowness was flat",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
