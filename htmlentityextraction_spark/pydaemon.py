"""The Python workers' daemon (``spark.python.daemon.module``):
``pyspark.daemon`` with one per-task cost taken out.

Every task runs ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before CPython 3.12 (gh-103200) that
call makes every cached ``zipimport.zipimporter`` re-read the central
directory of its archive: pyspark.zip once per imported pyspark
package, the Spark jars and the py4j zip, ~27k entries, 0.1-0.3 s per
task. The archives on a worker's path do not change while the worker
lives, so the daemon makes a zip importer's ``invalidate_caches`` do
nothing; every other finder is reset as before. Forked workers inherit
it, and an archive added later still gets a fresh importer, which reads
its directory when it is made.
"""

import zipimport

from pyspark import daemon

if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()
