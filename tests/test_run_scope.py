"""A query run leaves nothing behind.

Two contracts pin who owns a run's resources:

- a source contract: no package module but ``runner.py`` uses
  ``tempfile``, so every scratch dir comes from ``runner.scratch``; only
  ``pipeline.start_bounded`` spells ``.trigger(`` and only
  ``StreamingQueryHolder.await_done`` spells ``.awaitTermination(``,
  so every bounded stream starts and waits one way;
- a registry-wide leftover contract: no registered query, run at
  sf0.001 through ``runner.run_scope``, leaves a temp entry, a
  persistent RDD, a temp view or a cached plan behind.
  ``ml._REG_CACHE`` (the fitted registry rows, a Python dict kept per
  sf dir by design) is the one thing a run keeps, and it is none of
  these.
"""

from __future__ import annotations

import ast
import os
import pathlib
import tempfile

import pytest
from conftest import cached_plans, persistent_rdd_ids

import htmlentityextraction_spark
from htmlentityextraction_spark import runner

PACKAGE = pathlib.Path(htmlentityextraction_spark.__file__).parent

# (module, function) allowed to spell each call
ALLOWED_CALLS = {
    "trigger": ("streaming/pipeline.py", "start_bounded"),
    "awaitTermination": ("streaming/pipeline.py", "await_done"),
}


def scratch_violations(rel: str, source: str) -> list[str]:
    """``line: what`` for each use of ``tempfile`` outside runner.py (an
    attribute of an ``import tempfile`` alias, a ``from tempfile``
    import, or the import itself when nothing uses it) and each
    ``.trigger(``/``.awaitTermination(`` call outside its one allowed
    function."""
    tree = ast.parse(source)
    out = []
    if rel != "runner.py":
        imports = [
            (n.lineno, a.asname or a.name)
            for n in ast.walk(tree)
            if isinstance(n, ast.Import)
            for a in n.names
            if a.name == "tempfile"
        ]
        aliases = {alias for _, alias in imports}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                out.append(f"{node.lineno}: from tempfile import")
            elif (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases
            ):
                out.append(f"{node.lineno}: tempfile.{node.attr}")
        if imports and not out:
            out += [f"{line}: import tempfile" for line, _ in imports]

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ALLOWED_CALLS
            and ALLOWED_CALLS[node.func.attr] != (rel, func)
        ):
            out.append(f"{node.lineno}: .{node.func.attr}(")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_scratch_and_bounded_streams_have_one_owner():
    bad = [
        f"{rel}:{v}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for rel in [path.relative_to(PACKAGE).as_posix()]
        for v in scratch_violations(rel, path.read_text())
    ]
    assert not bad, "scratch or bounded-stream spellings outside their owner: " + ", ".join(bad)


@pytest.mark.parametrize(
    "source",
    [
        "import tempfile\ntempfile.mkdtemp()",
        "def f():\n    import tempfile as _tf\n    return _tf.gettempdir()",
        "from tempfile import mkdtemp",
        "import tempfile",
        "def f(w):\n    return w.trigger(availableNow=True).start()",
        "def await_done(q):\n    q.awaitTermination()",
    ],
)
def test_scanner_flags_hand_made_scratch_and_streams(source):
    assert scratch_violations("queries/x.py", source)


def _census(spark, tmp: str) -> dict:
    return {
        "tmp_entries": {
            os.path.relpath(os.path.join(root, n), tmp)
            for root, dirs, files in os.walk(tmp)
            for n in dirs + files
        },
        "persisted_rdds": persistent_rdd_ids(spark),
        "temp_views": {t.name for t in spark.catalog.listTables() if t.isTemporary},
        "cached_plans": cached_plans(spark),
    }


def _added(before: dict, now: dict) -> dict:
    """What ``now`` holds beyond ``before``. Something gone since
    ``before`` is not a leftover: Spark's context cleaner unpersists
    the RDDs an earlier test left once their frames are collected."""
    out = {k: sorted(now[k] - before[k]) for k in ("tmp_entries", "persisted_rdds", "temp_views")}
    out["cached_plans"] = max(now["cached_plans"] - before["cached_plans"], 0)
    return {k: v for k, v in out.items() if v}


def test_every_query_run_releases_what_it_made(spark, sf_dir, tmp_path, monkeypatch):
    """All registered queries at sf0.001, each written to the noop sink
    inside a run scope. The scratch root lives in a private temp dir,
    so the census sees only what this process's queries make."""
    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(runner, "_root", None)
    with runner.run_scope(spark):
        runner.scratch("baseline_")  # makes the root, which stays
    before = _census(spark, str(tmp_path))
    left = []
    for name, fn in sorted(entry.queries().items()):
        try:
            runner.timed_noop_write(spark, name, lambda: fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            left.append(f"{name}: raised {type(e).__name__}")
        now = _census(spark, str(tmp_path))
        added = _added(before, now)
        if added:
            left.append(f"{name}: {added}")
        before = now
    assert not left, f"{len(left)} runs left resources behind:\n" + "\n".join(left)


def test_scratch_left_outside_a_scope_goes_with_its_process(tmp_path):
    """A caller that runs a query without a scope leaves its scratch
    to the process: the root is removed when that process exits."""
    import subprocess
    import sys

    code = (
        "import tempfile; tempfile.tempdir = %r\n"
        "from htmlentityextraction_spark.runner import scratch\n"
        "open(scratch('q_') + '/part', 'w').write('x')\n"
        "print(len(__import__('os').listdir(%r)))\n" % (str(tmp_path), str(tmp_path))
    )
    root = str(pathlib.Path(htmlentityextraction_spark.__file__).parent.parent)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "1"  # the root existed while it ran
    assert os.listdir(tmp_path) == []


def test_sql_queries_leave_a_callers_views_alone(spark, sf_dir):
    """The queries that run SQL text pass their frames to ``spark.sql``
    as arguments: a caller's own views named like their tables stay
    as they were."""
    import __spark_entry__ as entry

    names = ("orders", "customer", "lineitem", "__li_gs")
    for name in names:
        spark.createDataFrame([(1, name)], "k int, v string").createOrReplaceTempView(name)
    try:
        for query in ("grouping_sets_mixed", "sql_lateral_topn_per_customer"):
            assert entry.queries()[query](spark, sf_dir).count() > 0
        assert {n: [tuple(r) for r in spark.table(n).collect()] for n in names} == {
            n: [(1, n)] for n in names
        }
    finally:
        for name in names:
            spark.catalog.dropTempView(name)


def _job_ids(spark) -> set[int]:
    """Ids of every job the status store holds, once the listener bus
    has delivered every event."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_timed_write_runs_in_its_query_job_group(spark):
    """Every job of one timed write is in the job group named after the
    query: the ones AQE submits for the shuffle, the write's and the
    run scope's own catalog reads. The group is unset once the write
    returns."""
    from pyspark.sql import functions as F

    def build():
        keyed = spark.range(2000, numPartitions=4).mapInArrow(lambda it: it, "id long")
        return keyed.groupBy((F.col("id") % 7).alias("k")).count()

    tracker = spark.sparkContext.statusTracker()
    before = _job_ids(spark)
    runner.timed_noop_write(spark, "job_group_probe", build)
    ran = _job_ids(spark) - before
    assert len(ran) >= 2  # at least the shuffle map stage's job and the write's
    assert ran == set(tracker.getJobIdsForGroup("job_group_probe"))
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
