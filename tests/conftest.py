from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from htmlentityextraction_spark.session import get_spark

    spark = get_spark("pytest", **{"spark.sql.shuffle.partitions": "8"})
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def persistent_rdd_ids(spark) -> set[int]:
    """Ids in the JVM's persistent-RDD registry. ``localCheckpoint``
    persists its RDD outside the SQL cache manager, so its blocks show
    up here and not in ``cached_plans``."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def cached_plans(spark) -> int:
    """Number of plans in the session's CacheManager. Its list is
    private, so it is read by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()
