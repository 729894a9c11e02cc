"""The Python workers' daemon (``htmlentityextraction_spark.pydaemon``):
the session's local workers run it, so a zip importer's
``invalidate_caches`` does nothing in them; they find it whatever the
driver's cwd is; and a session on an external master does not get it.
Every session, on any master, turns PySpark's call-site capture off."""

from __future__ import annotations

import os
import subprocess
import sys

from htmlentityextraction_spark import pydaemon, session


def test_python_tasks_run_the_engine_daemon(spark):
    def invalidate_caches_file(batches):
        import zipimport

        import pyarrow as pa

        fn = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pylist([{"file": fn.__code__.co_filename}] * b.num_rows)

    # the daemon runs as __main__, so its function is matched by file
    rows = spark.range(4, numPartitions=2).mapInArrow(invalidate_caches_file, "file string").collect()
    assert {os.path.realpath(r.file) for r in rows} == {os.path.realpath(pydaemon.__file__)}


def test_workers_start_whatever_the_driver_cwd(tmp_path):
    """A driver started outside the repo, with nothing on PYTHONPATH,
    still starts its Python workers from the package's daemon."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(pydaemon.__file__)))
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from htmlentityextraction_spark.session import get_spark\n"
        "spark = get_spark('cwd-check', **{'spark.sql.shuffle.partitions': '2'})\n"
        "print(spark.range(10, numPartitions=2).mapInArrow(lambda it: it, 'id long').count())\n"
        "spark.stop()\n" % root
    )
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_MASTER")}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "10"


class _Builder:
    """Records what ``get_spark`` sets on ``SparkSession.builder``."""

    def __init__(self):
        self.url, self.conf = None, {}

    def appName(self, name):
        return self

    def master(self, url):
        self.url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _built(monkeypatch, **env) -> _Builder:
    monkeypatch.setattr(session, "SparkSession", type("SparkSession", (), {"builder": _Builder()}))
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    return session.get_spark()


def test_only_a_local_master_gets_the_worker_settings(monkeypatch):
    """The daemon imports before any ``--py-files`` is on a worker's
    path and the package root is the driver's, so both settings hold
    for local workers only."""
    worker_keys = {"spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"}
    local = _built(monkeypatch)
    assert local.url.startswith("local[")
    assert worker_keys <= local.conf.keys()
    cluster = _built(monkeypatch, SPARK_MASTER="spark://cluster:7077")
    assert cluster.url is None
    assert not worker_keys & cluster.conf.keys()
    assert cluster.conf.keys() == session._DEFAULTS.keys()


def test_every_master_turns_off_call_site_capture(monkeypatch):
    """The call-site capture setting is a session default, not a local
    worker setting: local and external masters both get it."""
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert _built(monkeypatch).conf[key] == "false"
    assert _built(monkeypatch, SPARK_MASTER="spark://cluster:7077").conf[key] == "false"


def test_live_session_skips_call_site_capture(spark, monkeypatch):
    """PySpark reads the setting once per process and caches it; the
    cache is cleared so the live session's value is read again."""
    from pyspark.errors import utils
    from pyspark.sql import SparkSession

    assert SparkSession.getActiveSession() is not None
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    assert utils.is_debugging_enabled() is False
