"""Make the checkout root, its tools/ and tests/ and the benchmark importable."""

import pathlib
import sys

BENCH = pathlib.Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT), str(ROOT / "tools"), str(ROOT / "tests")]
