"""Source contract: every top-level package definition and every class
method is reached from what runs in production or measurement, or is
named in ``KEEP`` with its reason; an entry goes once the roots reach
what it names. Code that only tests call is deleted, not carried. No
package module imports a name it never uses.

Reachability is a name-level fixed point over the AST. The roots are
the ``@register``ed query functions, module-level code of every package
module, and every name used by ``tools/``, ``bench.py``,
``__spark_entry__.py`` and the non-test ``perfbench/`` files. A reached
definition reaches every name used in its body. Reaching a class
reaches its bases, decorators, its body other than methods, and its
dunder methods; any other method is a definition of its own
(``"<module path>:<Class>.<method>"``) and is reached only by an
attribute of its name (``x.files``, never a variable ``files``).
Names are matched without their module or class, so a shared name can
only keep code alive, never flag it. Docstrings and other string
constants are not names, so prose that mentions a definition does not
reach it.

Options: every defaulted parameter of a package function or method
takes at least two distinct values across the calls the same roots
make (the reached definitions' bodies, module-level code and the root
files), or is named in ``KEEP_OPTIONS`` with its reason. A call that
omits the option gives its default; a constant expression (literals,
module-constant names, arithmetic over them) gives the value it
computes, and a value of a module-level dict passed as ``**NAME``
gives the same; a constant name that is bound to no constant
expression gives itself; an option the caller hands on (``f(x=x)``)
gives the caller's values; any other expression gives an unknown
value, which can only keep the option alive. An option with one value in use is a constant (or, when its
default selects a branch no call takes, a required input), and a
branch only tests select is not carried."""

from __future__ import annotations

import ast
import operator
import pathlib
import re

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

# Options production gives one value or none, each kept on purpose.
KEEP_OPTIONS = {
    "streaming/pipeline.py:read_events_stream(starting_offset)": "SURVEY T2 earliest/latest start of the event stream",
    "streaming/pipeline.py:read_events_kafka(topic)": "the paper's real serve input (kept with read_events_kafka)",
    "streaming/pipeline.py:read_events_kafka(starting_offset)": "the paper's real serve input (kept with read_events_kafka)",
    "streaming/pipeline.py:read_events_kafka(max_offsets_per_trigger)": "the paper's real serve input (kept with read_events_kafka)",
    "operators/models.py:train_per_domain(vocab_mode)": "SURVEY M4 class-union vocabulary selection",
    "operators/models.py:_tfidf_matrix(vocab_mode)": "SURVEY M4 class-union vocabulary selection",
    "operators/incremental.py:ParquetMergeTable.vacuum(keep_last)": "retention safety code: how many snapshots vacuum keeps",
    "operators/incremental.py:ParquetMergeTable.vacuum(min_age_sec)": "retention safety code: the age horizon that protects in-flight readers",
    "operators/components.py:connected_components(max_rounds)": "guard limit: a pathological pair graph raises instead of looping",
    "operators/dedup.py:ngram_jaccard_pairs(max_block_rows)": "guard limit: a block too big for the quadratic verify fails loudly",
    "operators/setjoin.py:prefix_jaccard_pairs(max_block_rows)": "guard limit: a block too big for the quadratic verify fails loudly",
    "operators/extraction.py:extract_candidates(html_col)": "perfbench's serve workload passes it; the benchmark's calls keep their signatures",
    "operators/extraction.py:extract_candidates(url_col)": "perfbench's serve workload passes it; the benchmark's calls keep their signatures",
    "operators/extraction.py:extract_candidates(snippet_size)": "perfbench's serve workload passes it; the benchmark's calls keep their signatures",
    "operators/models.py:train_per_domain(n_estimators)": "perfbench's registry fit passes its FIT keys; the benchmark's calls keep their signatures",
    "operators/models.py:train_per_domain(max_depth)": "perfbench's registry fit passes its FIT keys; the benchmark's calls keep their signatures",
    "operators/models.py:train_per_domain(min_doc_freq)": "perfbench's registry fit passes its FIT keys; the benchmark's calls keep their signatures",
    "operators/models.py:train_per_domain(top_k)": "perfbench's registry fit passes its FIT keys; the benchmark's calls keep their signatures",
}


def used_names(nodes) -> set[str]:
    """Every identifier ``nodes`` use: bare names and imported names as
    they are, attribute names with a leading ``.``. String constants
    (docstrings included) are not names."""
    out: set[str] = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(f".{node.attr}")
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

    def define(key: str, names: tuple[str, ...], node: ast.AST, body: list[ast.AST]) -> None:
        defs[key] = body
        spans[key] = node.end_lineno - node.lineno + 1
        for name in names:
            by_name.setdefault(name, []).append(key)

    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.ClassDef):
                key = f"{rel}:{node.name}"
                shell = [n for n in node.body if not is_method(n)]
                body = [*node.bases, *node.keywords, *shell]
                define(key, (node.name, f".{node.name}"), node, body)
                for m in filter(is_method, node.body):
                    define(f"{key}.{m.name}", (f".{m.name}",), m, [m])
            elif isinstance(node, FUNCS):
                key = f"{rel}:{node.name}"
                define(key, (node.name, f".{node.name}"), node, [node])
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


def covers(entry: str, key: str) -> bool:
    """Whether a ``KEEP`` entry exempts the definition ``key``."""
    return entry in (key, f"{key.split(':')[0]}:*")


def kept(key: str) -> bool:
    return any(covers(entry, key) for entry in KEEP)


def stale_keep(keep, unreached) -> list[str]:
    """``keep`` entries that exempt no unreached definition: what they
    name is gone, or the roots now reach it."""
    return [e for e in keep if not any(covers(e, key) for key in unreached)]


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


CONSTANT_NAME = re.compile(r"_*[A-Z][A-Z0-9_]*")


_ARITHMETIC = {
    ast.Add: operator.add, ast.Sub: operator.sub, ast.Mult: operator.mul,
    ast.Div: operator.truediv, ast.FloorDiv: operator.floordiv, ast.Mod: operator.mod,
    ast.Pow: operator.pow, ast.LShift: operator.lshift, ast.RShift: operator.rshift,
    ast.BitOr: operator.or_, ast.BitAnd: operator.and_, ast.BitXor: operator.xor,
    ast.USub: operator.neg, ast.UAdd: operator.pos, ast.Invert: operator.invert,
}


def fold(node: ast.AST, consts: dict):
    """The value of a constant expression: a literal, a module-constant
    name bound to one (``consts`` maps it, ``None`` when it has no
    single value), or arithmetic over those. Anything else raises
    ``ValueError``."""
    name = getattr(node, "id", getattr(node, "attr", None))
    if isinstance(node, (ast.Name, ast.Attribute)) and consts.get(name) is not None:
        return ast.literal_eval(consts[name])
    if isinstance(node, ast.BinOp) and type(node.op) in _ARITHMETIC:
        return _ARITHMETIC[type(node.op)](fold(node.left, consts), fold(node.right, consts))
    if isinstance(node, ast.UnaryOp) and type(node.op) in _ARITHMETIC:
        return _ARITHMETIC[type(node.op)](fold(node.operand, consts))
    try:
        return ast.literal_eval(node)
    except TypeError as e:
        raise ValueError(node) from e


def module_constants(trees) -> dict[str, str | None]:
    """Upper-case names a module-level assignment binds, each with the
    ``repr`` of the constant expression it is bound to, or ``None``
    when it is bound to anything else or to two different values.
    Constants defined from constants resolve to a fixed point."""
    bound: dict[str, list[ast.AST]] = {}
    for tree in trees:
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                for t in node.targets if isinstance(node, ast.Assign) else [node.target]:
                    if isinstance(t, ast.Name) and CONSTANT_NAME.fullmatch(t.id):
                        bound.setdefault(t.id, []).append(node.value)
    consts: dict[str, str | None] = dict.fromkeys(bound)
    grew = True
    while grew:
        grew = False
        for name, nodes in bound.items():
            if consts[name] is not None:
                continue
            try:
                vals = {repr(fold(n, consts)) for n in nodes}
            except (ValueError, ArithmeticError):
                continue
            if len(vals) == 1:
                consts[name] = vals.pop()
                grew = True
    return consts


def value(node: ast.AST, params, consts) -> tuple:
    """What one argument (or default) gives an option: ``("=", text)``
    for a constant expression (the ``repr`` of what it computes) or a
    module-constant name bound to none (the name), ``("fwd", param)``
    for the enclosing function's own option handed on, else
    ``("?", node)``, an unknown value distinct from every other."""
    if isinstance(node, ast.Name) and node.id in params:
        return ("fwd", node.id)
    try:
        return ("=", repr(fold(node, consts)))
    except (ValueError, ArithmeticError):
        pass
    name = getattr(node, "id", getattr(node, "attr", None))
    if isinstance(node, (ast.Name, ast.Attribute)) and name in consts:
        return ("=", name)
    return ("?", node)


def splat_values(trees, consts) -> dict[str, dict]:
    """Every module-level dict literal (``{"k": v}`` or ``dict(k=v)``) by
    its name, as ``{key: value}``: ``**NAME`` (or ``**mod.NAME``) passes
    exactly these keys. Where two dicts of one name give a key
    different values, the key passes an unknown value."""
    out: dict[str, dict] = {}
    for tree in trees:
        for node in tree.body:
            if not (isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name)):
                continue
            v, items = node.value, None
            if isinstance(v, ast.Dict) and all(isinstance(k, ast.Constant) for k in v.keys):
                items = {k.value: val for k, val in zip(v.keys, v.values)}
            elif isinstance(v, ast.Call) and getattr(v.func, "id", None) == "dict" and not v.args:
                items = {k.arg: k.value for k in v.keywords} if all(k.arg for k in v.keywords) else None
            if items is not None:
                merged = out.setdefault(node.targets[0].id, {})
                for k, arg in items.items():
                    val = value(arg, (), consts)
                    merged[k] = val if merged.get(k, val) == val else ("?", node)
    return out


def passes(node: ast.AST, params, splats, consts) -> list[tuple]:
    """``(callee name, args)`` for every call in ``node``. ``args`` maps a
    keyword or a position to its ``value``, or ``"*"`` to an unknown
    splat that may set anything; ``params`` are the enclosing
    function's defaulted parameters."""
    out = []
    for call in ast.walk(node):
        if not isinstance(call, ast.Call):
            continue
        args: dict = {}
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                args["*"] = ("?", arg)
                break
            args[i] = value(arg, params, consts)
        for kw in call.keywords:
            if kw.arg is not None:
                args[kw.arg] = value(kw.value, params, consts)
            elif (dict_name := getattr(kw.value, "id", getattr(kw.value, "attr", None))) in splats:
                args.update(splats[dict_name])
            else:
                args["*"] = ("?", kw)
        out.append((getattr(call.func, "id", getattr(call.func, "attr", None)), args))
    return out


def option_scan(package: pathlib.Path, root_files) -> tuple[dict, set[str]]:
    """(single, options): every defaulted parameter of a package function
    or method, as ``"<module path>:<name>(<param>)"``, and those the
    calls from the roots give fewer than two distinct values, each with
    its values. A call matches a definition by its name (a class name
    calls ``__init__``); positions skip ``self``/``cls``. A call that
    omits the option gives its default; a literal or a constant name
    gives itself; a forwarded option (``f(x=x)``) gives the forwarding
    function's own values, to a fixed point; any other expression, or
    an unknown splat, gives an unknown value that only keeps the option
    alive."""
    unreached, _ = scan(package, root_files)
    trees = {
        p.relative_to(package).as_posix(): ast.parse(p.read_text())
        for p in sorted(package.rglob("*.py"))
    }
    roots = [ast.parse(p.read_text()) for p in root_files]
    consts = module_constants([*trees.values(), *roots])
    splats = splat_values([*trees.values(), *roots], consts)
    sig: dict[str, tuple] = {}  # key -> (positional params after self, {defaulted param: default})
    by_call: dict[str, list[str]] = {}
    calls: list[tuple] = []  # (enclosing key, callee name, args)

    def declare(key, fn, names, offset, reached):
        a = fn.args
        pos = [*a.posonlyargs, *a.args]
        defaults = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]], a.defaults))
        defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
        sig[key] = ([p.arg for p in pos][offset:], {p: value(d, (), consts) for p, d in defaults.items()})
        for name in names:
            by_call.setdefault(name, []).append(key)
        body = [fn] if reached else fn.decorator_list
        calls.extend((key, *c) for b in body for c in passes(b, defaults, splats, consts))

    for rel, tree in trees.items():
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                ckey = f"{rel}:{node.name}"
                shell = [n for n in node.body if not isinstance(n, FUNCS)]
                if ckey not in unreached:
                    for n in [*node.bases, *shell]:
                        calls.extend((None, *c) for c in passes(n, (), splats, consts))
                for m in filter(lambda n: isinstance(n, FUNCS), node.body):
                    key = f"{ckey}.{m.name}"
                    static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                    names = (m.name, node.name) if m.name == "__init__" else (m.name,)
                    # a dunder is reached with its class
                    reached = (key if is_method(m) else ckey) not in unreached
                    declare(key, m, names, 0 if static else 1, reached)
            elif isinstance(node, FUNCS):
                key = f"{rel}:{node.name}"
                declare(key, node, (node.name,), 0, key not in unreached)
            else:
                calls.extend((None, *c) for c in passes(node, (), splats, consts))
    for tree in roots:
        calls.extend((None, *c) for c in passes(tree, (), splats, consts))

    values: dict[str, set] = {f"{k}({p})": set() for k, (_, ds) in sig.items() for p in ds}
    grew = True
    while grew:
        grew = False
        for enclosing, name, args in calls:
            for key in by_call.get(name, ()):
                positional, defaults = sig[key]
                given = {
                    positional[i]: v
                    for i, v in args.items()
                    if isinstance(i, int) and i < len(positional)
                }
                for p, default in defaults.items():
                    v = args.get("*") or args.get(p) or given.get(p) or default
                    got = values[f"{enclosing}({v[1]})"] if v[0] == "fwd" else {v}
                    option = values[f"{key}({p})"]
                    if not got <= option:
                        option |= got
                        grew = True
    single = {
        o: vs for o, vs in sorted(values.items())
        if len(vs) < 2 and all(v[0] == "=" for v in vs)
    }
    return single, set(values)


def stale_keep_options(keep, single, options) -> list[str]:
    """``keep`` entries that name no option, or one the calls now give
    two values."""
    return [k for k in keep if k not in options or k not in single]


def test_every_package_definition_is_reached_or_kept():
    unreached, _ = scan(PACKAGE, root_files(REPO))
    bad = sorted(k for k in unreached if not kept(k))
    assert not bad, f"{len(bad)} definitions only tests reach: " + ", ".join(bad)


def test_every_package_option_is_set_or_kept():
    single, _ = option_scan(PACKAGE, root_files(REPO))
    bad = [f"{o}={sorted(v for _, v in vs)}" for o, vs in single.items() if o not in KEEP_OPTIONS]
    assert not bad, f"{len(bad)} options production gives one value or none: " + ", ".join(bad)


def test_keep_options_name_unset_options():
    single, options = option_scan(PACKAGE, root_files(REPO))
    stale = stale_keep_options(KEEP_OPTIONS, single, options)
    assert not stale, "KEEP_OPTIONS names options that are gone or now take two values: " + ", ".join(stale)


def test_no_package_module_imports_a_name_it_never_uses():
    bad = unused_imports(PACKAGE)
    assert not bad, f"{len(bad)} unused imports: " + ", ".join(bad)


def test_keep_names_live_definitions():
    unreached, _ = scan(PACKAGE, root_files(REPO))
    stale = stale_keep(KEEP, unreached)
    assert not stale, "KEEP names definitions that are gone or now reached: " + ", ".join(stale)


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
    tool = tmp_path / "tool.py"
    tool.write_text("test_only = 1\nprint(test_only)\n")
    unreached, _ = scan(pkg, [tool])
    # a shared method name keeps every method of that name alive; a
    # bare variable of the same name reaches no method
    assert sorted(unreached) == ["mod.py:Table.test_only", "mod.py:Unused"]
    keep = ["mod.py:Table.test_only", "mod.py:Table.used", "mod.py:gone", "mod.py:*", "other.py:*"]
    assert stale_keep(keep, unreached) == ["mod.py:Table.used", "mod.py:gone", "other.py:*"]


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


def test_option_scan_follows_keywords_positions_splats_and_forwarding(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "from registry import register\n"
        "CONF = dict(depth=3)\n"
        "LIMIT = 10\n"
        "KB = 1024\n"
        "SIZE = 150\n"
        "SCHEMA = make_schema()\n"
        "def kw(x, a=1, b=2):\n    return x\n"
        "def pos(x, a=1, b=2):\n    return x\n"
        "def splat(x, depth=1, width=2):\n    return x\n"
        "def anything(x, a=1, b=2):\n    return x\n"
        "def inner(x, fwd=1):\n    return x\n"
        "def outer(x, fwd=None):\n    return inner(x, fwd=fwd)\n"
        "def inner2(x, fwd=1):\n    return x\n"
        "def outer2(x, fwd=None):\n    return inner2(x, fwd)\n"
        "def same(x, a=1):\n    return x\n"
        "def repeated(x, n=1):\n    return x\n"
        "def const(x, w=2):\n    return x\n"
        "def shifted(x, bits=1 << 20):\n    return x\n"
        "def sized(x, size=SIZE):\n    return x\n"
        "def derived(x, n=None):\n    return x\n"
        "def opaque(x, s=None):\n    return x\n"
        "class Table:\n"
        "    def __init__(self, path, mode='r'):\n        self.path = path\n"
        "    def read(self, col, version=None):\n        return col\n"
        "@register('q')\n"
        "def query(spark, sf, **kw2):\n"
        "    kw(1, b=5)\n"
        "    kw(2)\n"
        "    pos(1, 2)\n"
        "    pos(2)\n"
        "    splat(1, **CONF)\n"
        "    anything(1, **kw2)\n"
        "    outer(1)\n"
        "    outer2(1, fwd=3)\n"
        "    outer2(2)\n"
        "    same(1, a=1)\n"
        "    repeated(1, n=7)\n"
        "    repeated(2, n=7)\n"
        "    const(1, w=LIMIT)\n"
        "    const(2, w=LIMIT)\n"
        "    shifted(1, bits=1 << 16)\n"
        "    shifted(2, bits=65536)\n"
        "    sized(1, size=150)\n"
        "    sized(2)\n"
        "    derived(1, n=KB * 4)\n"
        "    derived(2, n=4096)\n"
        "    opaque(1, s=SCHEMA)\n"
        "    opaque(2, s=SCHEMA)\n"
        "    Table('p', 'w').read('c')\n"
        "    Table('q')\n"
    )
    single, options = option_scan(pkg, [])
    assert len(options) == 21
    assert list(single) == [
        "mod.py:Table.read(version)",  # positions skip self
        "mod.py:const(w)",  # a constant name gives its value
        "mod.py:derived(n)",  # arithmetic over a constant equals a literal
        "mod.py:inner(fwd)",  # forwarded from an option with one value
        "mod.py:kw(a)",  # only ever omitted: its default
        "mod.py:opaque(s)",  # a constant bound to a call gives its name
        "mod.py:outer(fwd)",
        "mod.py:pos(b)",
        "mod.py:repeated(n)",  # one non-default literal, twice
        "mod.py:same(a)",  # a literal equal to the default
        "mod.py:shifted(bits)",  # constant arithmetic folds
        "mod.py:sized(size)",  # a constant default equals the literal
        "mod.py:splat(depth)",  # **CONF gives its own value
        "mod.py:splat(width)",  # **CONF passes only its own keys
    ]
    assert single["mod.py:const(w)"] == {("=", "10")}
    assert single["mod.py:derived(n)"] == {("=", "4096")}
    assert single["mod.py:opaque(s)"] == {("=", "SCHEMA")}
    assert single["mod.py:shifted(bits)"] == {("=", "65536")}
    assert single["mod.py:sized(size)"] == {("=", "150")}
    assert single["mod.py:repeated(n)"] == {("=", "7")}
    assert single["mod.py:splat(depth)"] == {("=", "3")}
    # inner2(fwd) takes outer2's two values (3 and the default None);
    # anything(a, b) take an unknown splat; kw(b), pos(a) and
    # Table(mode) each take a passed value and their default
    keep = {"mod.py:kw(a)": "kept", "mod.py:kw(b)": "two values", "mod.py:gone(x)": "gone"}
    assert stale_keep_options(keep, single, options) == ["mod.py:kw(b)", "mod.py:gone(x)"]
