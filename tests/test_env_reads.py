"""Guard: the package reads only its deployment-seam environment variables.

Env switches that only bring back the losing arm of an already-measured
plan decision were deleted, with the numbers kept beside the surviving
arm. This test keeps them from growing back: it parses every source file
under ``swallow_spark/`` and fails on any ``os.environ`` / ``getenv`` read
whose variable is outside ALLOWED. A key held in a module-level string
constant (``_ENV = "..."; os.environ.get(_ENV)``) is resolved; any other
indirection, and any bare use of ``os.environ`` (``dict(os.environ)``), is
reported as unresolvable.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent

ALLOWED = {
    "SWALLOW_FAN_OUT",  # ops.parallel: global fan_out kill switch
    "SWALLOW_CHECKPOINT_DIR",  # ops.materialize: reliable checkpoint dir
    "SPARK_GRAFT_SF_DIR",  # io: default fixture directory
    "SPARK_GRAFT_CPUS",  # session: local[N] core count
    "SPARK_DRIVER_MEM",  # session: driver heap
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def env_reads(source: str) -> list[tuple[int, str | None]]:
    """(line, variable) for every environment access in ``source``;
    variable is None when it cannot be resolved to a string."""
    tree = ast.parse(source)
    consts = {
        t.id: node.value.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        for t in node.targets
        if isinstance(t, ast.Name)
    }

    def name(key: ast.AST | None) -> str | None:
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            return key.value
        if isinstance(key, ast.Name):
            return consts.get(key.id)
        return None

    reads: list[tuple[int, str | None]] = []
    seen: set[int] = set()  # environ nodes consumed by a recognized read
    for node in ast.walk(tree):
        key, env = None, None
        if isinstance(node, ast.Call):
            f = node.func
            arg = node.args[0] if node.args else None
            if isinstance(f, ast.Attribute) and _is_environ(f.value):
                key, env = arg, f.value
            elif (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            ):
                reads.append((node.lineno, name(arg)))
                continue
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key, env = node.slice, node.value
        elif isinstance(node, ast.Compare) and len(node.comparators) == 1:
            if _is_environ(node.comparators[0]):
                key, env = node.left, node.comparators[0]
        if env is not None:
            seen.add(id(env))
            reads.append((node.lineno, name(key)))
    reads += [
        (node.lineno, None)
        for node in ast.walk(tree)
        if _is_environ(node) and id(node) not in seen
    ]
    return reads


def test_package_reads_only_allowed_env_vars():
    hits = []
    for path in sorted((REPO / "swallow_spark").rglob("*.py")):
        for lineno, var in env_reads(path.read_text(encoding="utf-8")):
            if var not in ALLOWED:
                where = f"{path.relative_to(REPO)}:{lineno}"
                hits.append(f"{where}: {var or '<unresolved>'}")
    assert not hits, (
        "environment read outside the deployment-seam allow-list — keep the "
        "measured arm and delete the switch instead:\n" + "\n".join(hits)
    )


def test_guard_sees_every_read_form():
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "_E = 'A'\n"
        "os.environ.get(_E)\n"
        "os.getenv('B', '0')\n"
        "getenv('C')\n"
        "os.environ['D']\n"
        "'E' in os.environ\n"
        "environ.get('F')\n"
        "dict(os.environ)\n"
        "os.environ.get(make_name())\n"
    )
    assert sorted(env_reads(src), key=lambda r: r[0]) == [
        (4, "A"),
        (5, "B"),
        (6, "C"),
        (7, "D"),
        (8, "E"),
        (9, "F"),
        (10, None),
        (11, None),
    ]
