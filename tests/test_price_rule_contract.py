"""Source contract: each price rule is spelled once, in
``functions/pricing.py``. No other package module spells the
measurement bound ``1e10`` or a reconciliation status name, in code or
in a string other than a docstring. Queries and oracles call the rule
(``finite_measure``/``finite_measure_sql``, ``measure_cents``/
``measure_cents_sql``, ``price_status``/``price_status_sql``,
``selected_price``/``selected_price_sql``, ``PASSING``/``passing_sql``)
or spell the bound from ``MAX_ABS_MEASURE``. Comments are not in the
AST, so prose about the rules stays free."""

from __future__ import annotations

import ast
import pathlib
import re
import sys

import htmlentityextraction_spark

PACKAGE = pathlib.Path(htmlentityextraction_spark.__file__).parent
sys.path.insert(0, str(PACKAGE.parent / "tools"))
from fold_audit import _docstring_nodes  # noqa: E402

STATUSES = (
    "modeledPatternEquals",
    "minorModelPatternConflict",
    "majorModelPatternConflict",
    "bothFailed",
    "patternFailed",
    "missingModel",
    "allFalseCandids",
)
SPELLED = re.compile(r"1e\+?10(?![0-9])|" + "|".join(STATUSES))


def rule_spellings(package: pathlib.Path) -> list[str]:
    """``"<module path>:<line>: <spelling>"`` for every bound or status
    name a module outside ``functions/pricing.py`` spells."""
    out = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel == "functions/pricing.py":
            continue
        tree = ast.parse(path.read_text())
        skip = _docstring_nodes(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Constant) or id(node) in skip:
                continue
            if isinstance(node.value, str):
                out.extend((rel, node.lineno, m) for m in SPELLED.findall(node.value))
            elif type(node.value) in (int, float) and node.value == 1e10:
                out.append((rel, node.lineno, repr(node.value)))
    return [f"{rel}:{line}: {text}" for rel, line, text in sorted(out)]


def test_price_rules_are_spelled_only_in_pricing():
    bad = rule_spellings(PACKAGE)
    assert not bad, f"{len(bad)} price-rule spellings outside functions/pricing.py: " + ", ".join(bad)


def test_rule_spellings_flag_code_and_strings_not_docstrings(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "functions").mkdir(parents=True)
    (pkg / "functions" / "pricing.py").write_text("BOUND = 1e10\nNAME = 'bothFailed'\n")
    (pkg / "mod.py").write_text(
        '"""Docstrings may say 1e10 and missingModel."""\n'
        "# so may comments: 1e10, patternFailed\n"
        "LIMIT = 10000000000\n"
        "def f(x):\n"
        "    '''x < 1e10'''\n"
        "    return x < -1e10\n"
        "SQL = f\"WHERE v < 1e+10 AND s = 'allFalseCandids' {LIMIT}\"\n"
    )
    assert rule_spellings(pkg) == [
        "mod.py:3: 10000000000",
        "mod.py:6: 10000000000.0",
        "mod.py:7: 1e+10",
        "mod.py:7: allFalseCandids",
    ]
