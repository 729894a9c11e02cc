"""SparkSession factory.

The reference tunes Spark 1.3 by hand (Kryo, partition counts, executor
sizing scripts — SURVEY.md §4). On modern Spark the same goals are met
declaratively: AQE re-plans shuffles at runtime (coalesce, skew-join),
Arrow accelerates the few pandas-UDF islands, and shuffle-partition
count is sized to the environment instead of hard-coded per job
(reference: `/root/reference/src/main/resources/max-spark-default.sh:20-60`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the package, for the Python workers' path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# At 100 TB these would be cluster-level settings; values here are the
# local[32] test-rig equivalents. Everything is overridable via env.
_DEFAULTS = {
    # Let AQE pick real shuffle parallelism at runtime; 32 matches the
    # local test rig (1 core : 1 partition). On a 1000-executor cluster
    # set spark.sql.shuffle.partitions ~= 2-3x total cores and let AQE
    # coalesce down.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the pandas-UDF islands (extraction, per-domain models).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast joins for dimension tables (region/nation/supplier ~KB).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # 128 MB input splits — the parquet-scan sweet spot at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # PySpark's call-site capture: when on, every Column or function
    # call walks the Python stack and makes extra py4j round trips, so
    # that a DataFrame-API error can name its Python file:line. Off,
    # building and analysing one serve micro-batch plan took 0.14 s
    # instead of 0.24 s (local[4]); errors still name the failing
    # expression, only without the Python file:line.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Local master only: the Python workers fork from
# htmlentityextraction_spark.pydaemon, which stops each task re-reading
# every zip archive on the workers' path (pyspark.zip, the Spark jars,
# py4j): ~0.15-0.3 s per Python task on CPython < 3.12. The package root
# goes on the workers' path, so the daemon imports whatever the driver's
# cwd is. Local workers share the driver's file system, so that path is
# valid for them; a cluster's workers may not have it, and the daemon
# imports before any --py-files is on their path, so a cluster deployment
# that wants the daemon sets both itself.
_LOCAL_WORKERS = {
    "spark.python.daemon.module": "htmlentityextraction_spark.pydaemon",
    "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
}


def get_spark(app_name: str = "htmlentityextraction-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Master defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the master/deploy-mode comes from spark-submit and this
    factory only contributes SQL-level tuning; the Python worker
    settings (``_LOCAL_WORKERS``) go with the local master only.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    conf = dict(_DEFAULTS)
    if "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
        conf.update(_LOCAL_WORKERS)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
