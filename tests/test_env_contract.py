"""Source contract: production modules read the environment only for
session and placement config. A/B measurement arms belong to the
harness (``tools/ab_bench.py --set module:CONST``), never to an
``os.environ`` switch inside the package."""

from __future__ import annotations

import ast
import pathlib

import pytest

import htmlentityextraction_spark

ALLOWED_KEYS = {"SPARK_GRAFT_CPUS", "SPARK_MASTER"}
PACKAGE = pathlib.Path(htmlentityextraction_spark.__file__).parent


def env_reads(source: str) -> list[tuple[int, str | None]]:
    """(line, key) of every environment access in ``source``; the key
    is None when it is not a string literal. Catches ``environ`` and
    ``getenv`` under any module alias (``_os.environ``) or bare import:
    ``environ[k]``, ``environ.get(k)`` and other methods, ``k in
    environ``, ``getenv(k)``; any other use of ``environ`` reads as a
    non-literal key."""
    tree = ast.parse(source)
    parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.Name):
            name = node.id
        else:
            continue
        if name not in ("environ", "getenv"):
            continue
        parent = parents.get(node)
        key = None
        if name == "getenv":
            if isinstance(parent, ast.Call) and parent.func is node and parent.args:
                key = parent.args[0]
        elif isinstance(parent, ast.Subscript) and parent.value is node:
            key = parent.slice
        elif isinstance(parent, ast.Attribute):
            call = parents.get(parent)
            if isinstance(call, ast.Call) and call.func is parent and call.args:
                key = call.args[0]
        elif isinstance(parent, ast.Compare) and parent.comparators == [node]:
            key = parent.left
        literal = isinstance(key, ast.Constant) and isinstance(key.value, str)
        out.append((node.lineno, key.value if literal else None))
    return out


def test_package_reads_only_session_config_from_env():
    bad = [
        f"{path.relative_to(PACKAGE)}:{line} {key!r}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line, key in env_reads(path.read_text())
        if key not in ALLOWED_KEYS
    ]
    assert not bad, "environment reads outside session config: " + ", ".join(bad)


@pytest.mark.parametrize(
    "source",
    [
        'import os\nos.environ.get("SPARK_GRAFT_TDIFF_MAT", "1")',
        'import os as _os\n_os.environ["SPARK_GRAFT_SETSIM_GUARD"]',
        'import os\n"SPARK_GRAFT_MERGE_SPINE" in os.environ',
        'from os import getenv\ngetenv("SPARK_GRAFT_SCAN_REPARTITION")',
        'from os import environ\nenviron.get("TMPDIR" + "X")',
        'import os\nos.environ.get(name)',
        'import os\ndict(os.environ)',
    ],
)
def test_scanner_flags_switches(source):
    assert any(key not in ALLOWED_KEYS for _, key in env_reads(source))

