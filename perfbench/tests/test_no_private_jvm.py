"""The benchmark reaches Spark only through public surfaces: no ``._j<name>``."""

from __future__ import annotations

from conftest import BENCH
from test_no_py4j_internals import _PRIVATE_JVM  # tests/test_no_py4j_internals.py


def test_no_private_jvm_attribute_access_in_benchmark():
    hits = []
    for path in sorted(BENCH.rglob("*.py")):
        for lineno, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
            if _PRIVATE_JVM.search(line.split("#", 1)[0]):
                hits.append(f"{path.relative_to(BENCH)}:{lineno}: {line.strip()}")
    assert not hits, "\n".join(hits)
