"""The one timing basis for bench.py and the tools/ probes.

A timed run builds a DataFrame and writes it to the ``noop`` sink. A
noop write, not ``count()``: count lets Catalyst prune projections that
do not affect cardinality and under-measures the real work, while the
noop sink materializes every column of every row. The untimed warm-up
runs once per session before any timed run.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Untimed: warm the JVM and the parquet footers with a lineitem
    count, then the Python worker pool and the Arrow path, so the first
    Python-shaped query is not charged worker spin-up."""
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()


def timed_noop_write(build: Callable[[], DataFrame]) -> float:
    """Wall seconds, rounded to 3, to call ``build`` and write its
    DataFrame to the noop sink."""
    t0 = time.time()
    build().write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)
