"""The one timing basis for bench.py and the tools/ probes, and the
owner of a query's scratch space.

A timed run builds a DataFrame and writes it to the ``noop`` sink. A
noop write, not ``count()``: count lets Catalyst prune projections that
do not affect cardinality and under-measures the real work, while the
noop sink materializes every column of every row. The untimed warm-up
runs once per session before any timed run.

Queries stand their durable stores in with local dirs and often return
a lazy frame over one, so the runner, not the query, owns them:
``scratch`` hands them out and ``run_scope`` releases them after the
caller's action. What no scope releases goes when the process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

_root: str | None = None
_handed: list[str] = []


def scratch(prefix: str) -> str:
    """A new empty directory under this process's scratch root, named
    ``<prefix><random>``; the innermost open ``run_scope`` removes it."""
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="graft_scratch_")
        atexit.register(shutil.rmtree, _root, True)
    d = tempfile.mkdtemp(prefix=prefix, dir=_root)
    _handed.append(d)
    return d


def _temp_views(spark: SparkSession) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@contextmanager
def run_scope(spark: SparkSession) -> Iterator[None]:
    """Release, on exit, the scratch dirs handed out inside the body and
    the RDDs and temp views (memory sinks among them) it made. A diff
    of the session registries is safe because a runner runs one query
    at a time (operators keep their own handles, as
    ``components._checkpoint_round`` explains)."""
    mark = len(_handed)
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    views = _temp_views(spark)
    try:
        yield
    finally:
        for view in _temp_views(spark) - views:
            spark.catalog.dropTempView(view)
        persisted = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in set(persisted.keySet().toArray()) - rdds:
            persisted.get(rdd_id).unpersist(True)
        for d in _handed[mark:]:
            shutil.rmtree(d, ignore_errors=True)
        del _handed[mark:]


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Untimed: warm the JVM and the parquet footers with a lineitem
    count, then the Python worker pool and the Arrow path, so the first
    Python-shaped query is not charged worker spin-up."""
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()


def timed_noop_write(spark: SparkSession, name: str, build: Callable[[], DataFrame]) -> float:
    """Wall seconds, rounded to 3, to call ``build`` and write its
    DataFrame to the noop sink. Every job of the call runs in job
    group ``name`` (the query's registry name), so the status store
    and any event log attribute it to the query; the group is cleared
    afterwards. The run's scope is released after the clock stops."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        with run_scope(spark):
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            return round(time.time() - t0, 3)
    finally:
        sc._jsc.clearJobGroup()
