"""Source contract: every top-level package definition and every class
method is reached from what runs in production or measurement, or is
named in ``KEEP`` with its reason. Code that only tests call is
deleted, not carried. No package module imports a name it never uses.

Reachability is a name-level fixed point over the AST. The roots are
the ``@register``ed query functions, module-level code of every package
module, and every name used by ``tools/``, ``bench.py``,
``__spark_entry__.py`` and the non-test ``perfbench/`` files. A reached
definition reaches every name used in its body. Reaching a class
reaches its bases, decorators, its body other than methods, and its
dunder methods; any other method is a definition of its own
(``"<module path>:<Class>.<method>"``) and is reached by its name.
Names are matched without their module or class, so a shared name can
only keep code alive, never flag it. Docstrings and other string
constants are not names, so prose that mentions a definition does not
reach it."""

from __future__ import annotations

import ast
import pathlib

import htmlentityextraction_spark

PACKAGE = pathlib.Path(htmlentityextraction_spark.__file__).parent
REPO = PACKAGE.parent

# Definitions no query, tool or bench calls, each kept on purpose.
KEEP = {
    "streaming/pipeline.py:read_events_kafka": "the paper's real serve input; the file fixture stands in for it",
    "functions/sched.py:*": "SURVEY F17/T8 scheduling twins",
    "functions/temporal.py:valid_event_time_sql": "SQL twin of the valid-event-time predicate",
    "operators/dedup.py:base_hashes": "Python twin pinned to the codegen minhash",
    "operators/dedup.py:char_shingles": "Python twin pinned to the codegen shingles",
    "operators/dedup.py:minhash_signature": "Python twin pinned to the codegen minhash",
    "operators/dedup.py:simhash60": "Python twin pinned to the codegen simhash",
    "operators/models.py:save_registry": "SURVEY K6 model persistence",
    "operators/models.py:load_registry": "SURVEY K6 model persistence",
    "operators/models.py:url_grouped_split": "SURVEY M6 url-grouped train/test split",
    "sources/http.py:fetch_pages": "SURVEY S12 page fetch",
    "sources/http.py:fetch_url_text": "SURVEY S12 page fetch",
    "operators/incremental.py:ParquetMergeTable.vacuum": "retention safety code: reclaims unreferenced snapshots under the commit lock",
    "operators/incremental.py:ParquetMergeTable.history": "retention safety code: the published versions vacuum keeps or drops",
    "operators/incremental.py:ParquetMergeTable.verify_integrity": "storage audit of a snapshot against its manifest",
    "operators/gbt.py:GBTClassifier.truncate": "the prefix-model reference margin_curve is checked against",
}


def used_names(nodes) -> set[str]:
    """Every identifier ``nodes`` use: bare names, attribute names and
    imported names. String constants (docstrings included) are not
    names."""
    out: set[str] = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name)
    return out


def is_registered(node: ast.AST) -> bool:
    for deco in getattr(node, "decorator_list", ()):
        func = deco.func if isinstance(deco, ast.Call) else deco
        if getattr(func, "id", getattr(func, "attr", None)) == "register":
            return True
    return False


FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def is_method(node: ast.AST) -> bool:
    """A function in a class body other than a dunder: dunders run
    whenever the class is used, so they belong to the class."""
    return isinstance(node, FUNCS) and not (
        node.name.startswith("__") and node.name.endswith("__")
    )


def scan(package: pathlib.Path, root_files) -> tuple[dict, dict]:
    """(unreached, spans): unreached maps ``"<module path>:<name>"``
    (``"<module path>:<Class>.<method>"`` for a method) to the
    definition's line count; spans maps every definition."""
    defs: dict[str, list[ast.AST]] = {}
    spans: dict[str, int] = {}
    by_name: dict[str, list[str]] = {}
    roots: list[ast.AST] = []
    seen: set[str] = set()

    def define(key: str, name: str, node: ast.AST, body: list[ast.AST]) -> None:
        defs[key] = body
        spans[key] = node.end_lineno - node.lineno + 1
        by_name.setdefault(name, []).append(key)

    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.ClassDef):
                key = f"{rel}:{node.name}"
                shell = [n for n in node.body if not is_method(n)]
                define(key, node.name, node, [*node.bases, *node.keywords, *shell])
                for m in filter(is_method, node.body):
                    define(f"{key}.{m.name}", m.name, m, [m])
            elif isinstance(node, FUNCS):
                key = f"{rel}:{node.name}"
                define(key, node.name, node, [node])
            else:
                roots.append(node)
                continue
            roots.extend(node.decorator_list)
            if is_registered(node):
                seen.add(key)
                roots.append(node)
    for path in root_files:
        roots.append(ast.parse(path.read_text()))
    todo = used_names(roots)
    done: set[str] = set()
    while todo:
        name = todo.pop()
        done.add(name)
        for key in by_name.get(name, ()):
            if key not in seen:
                seen.add(key)
                todo |= used_names(defs[key]) - done
    return {k: spans[k] for k in defs if k not in seen}, spans


def root_files(repo: pathlib.Path) -> list[pathlib.Path]:
    perfbench = [p for p in (repo / "perfbench").glob("*.py") if not p.name.startswith("test_")]
    return [
        *sorted((repo / "tools").glob("*.py")),
        repo / "bench.py",
        repo / "__spark_entry__.py",
        *sorted(perfbench),
    ]


def kept(key: str) -> bool:
    return key in KEEP or f"{key.split(':')[0]}:*" in KEEP


def unused_imports(package: pathlib.Path) -> list[str]:
    """``"<module path>:<line>:<name>"`` for every import binding a
    package module never reads. ``__init__.py`` re-exports and
    ``__future__`` flags are not bindings the module reads."""
    out = []
    for path in sorted(package.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    bound = alias.asname or alias.name.split(".")[0]
                    if bound != "*" and bound not in read:
                        rel = path.relative_to(package).as_posix()
                        out.append(f"{rel}:{node.lineno}:{bound}")
    return out


def test_every_package_definition_is_reached_or_kept():
    unreached, _ = scan(PACKAGE, root_files(REPO))
    bad = sorted(k for k in unreached if not kept(k))
    assert not bad, f"{len(bad)} definitions only tests reach: " + ", ".join(bad)


def test_no_package_module_imports_a_name_it_never_uses():
    bad = unused_imports(PACKAGE)
    assert not bad, f"{len(bad)} unused imports: " + ", ".join(bad)


def test_keep_names_live_definitions():
    _, spans = scan(PACKAGE, root_files(REPO))
    modules = {k.split(":")[0] for k in spans}
    stale = [k for k in KEEP if k not in spans and k.removesuffix(":*") not in modules]
    assert not stale, "KEEP names definitions that no longer exist: " + ", ".join(stale)


def test_scan_follows_names_and_ignores_docstrings(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        '"""Mentions dead() and prose_only()."""\n'
        "from registry import register\n"
        "X = const_root()\n"
        "def const_root():\n    return helper()\n"
        "def helper():\n    return 1\n"
        "@register('q')\n"
        "def query(spark, sf):\n    return via_query()\n"
        "def via_query():\n    return 2\n"
        "def via_tool():\n    return 3\n"
        "def dead():\n    '''calls via_tool()'''\n    return 4\n"
        "def prose_only():\n    return 5\n"
    )
    tool = tmp_path / "tool.py"
    tool.write_text("from pkg.mod import via_tool\n")
    unreached, _ = scan(pkg, [tool])
    assert sorted(unreached) == ["mod.py:dead", "mod.py:prose_only"]


def test_scan_reaches_methods_by_name_and_dunders_with_their_class(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "from registry import register\n"
        "class Table:\n"
        "    LIMIT = limit()\n"
        "    def __init__(self):\n        self.x = init_helper()\n"
        "    def used(self):\n        return 1\n"
        "    def test_only(self):\n        return 2\n"
        "def limit():\n    return 3\n"
        "def init_helper():\n    return 4\n"
        "class Unused:\n"
        "    def used(self):\n        return 5\n"
        "@register('q')\n"
        "def query(spark, sf):\n    return Table().used()\n"
    )
    unreached, _ = scan(pkg, [])
    # a shared method name keeps every method of that name alive
    assert sorted(unreached) == ["mod.py:Table.test_only", "mod.py:Unused"]


def test_unused_imports_flags_bindings_the_module_never_reads(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from pkg.mod import f\n")
    (pkg / "mod.py").write_text(
        "from __future__ import annotations\n"
        "import os.path\n"
        "import json as js\n"
        "from x import used, unused\n"
        "def f():\n    return used, os.path.sep\n"
    )
    assert unused_imports(pkg) == ["mod.py:3:js", "mod.py:4:unused"]
