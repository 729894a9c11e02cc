"""Table loaders over the driver's parquet fixtures.

The reference reads Elasticsearch / S3 object files / Cassandra / Kafka
(SURVEY.md §2.1 S1-S10). In the rebuild every batch source is a
DataFrame scan with Catalyst predicate pushdown + column pruning doing
the work the reference hand-coded (`es.query` strings, `.where()` on
the Cassandra connector — `utils/UConf.scala:37-40`,
`analytics/CalcIndices.scala:68`). Parquet stands in for all of them in
the test rig; swapping in a real connector is a one-line format change.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scan-parallelism floor (optimization r12, guide §2.5 "input skew" /
# §6): the local fixtures are ONE parquet file with ONE row group, so
# every scan yields a single task and the whole narrow pipeline above
# it (regex, shingle hashing, per-row expressions, map-side partial
# aggregation) serializes onto one of the N cores until the first
# exchange. When the file layout cannot supply defaultParallelism
# splits, one round-robin repartition right after the read buys full
# parallelism for every narrow stage for the price of shuffling the
# (small) input once. At production scale this is structurally a
# no-op: input >> maxPartitionBytes yields plenty of splits and the
# guard never fires. Filters/projections still reach the parquet scan
# — Catalyst pushes predicates and pruning through Repartition
# (verified in plans/r12/*_after.txt: PushedFilters unchanged).
#
# OPT-IN, not blanket: the keyless exchange itself costs ~1 s on this
# rig (single-task sort+serialize+shuffle-write of the whole input,
# plus an extra AQE stage), so it only pays when the narrow work above
# the scan is expensive — regex/shingling, collect_set, pandas UDFs.
# The order-controlled in-session A/B (tools/ab_bench.py, ABBA BAAB)
# measured a blanket floor REGRESSING cheap agg-shaped queries ~2x
# (table_diff_reconciliation 2.96→5.75 s, cms_heavy_hitters 1.66→3.49,
# gap_fill 1.10→2.02) while helping heavy narrow-work ones
# (rt2report_competitor_summary 2.64→1.84). Call sites that measured a
# win pass ``fan_out=True``; everything else keeps the bare scan.
#
# Tables below _SCAN_REPART_MIN_BYTES (region/nation/supplier/part —
# broadcast-side dimensions) are left alone even when requested:
# repartitioning a few-KB dimension adds an exchange into every
# broadcast build for no narrow work worth spreading. The same constant
# is the harness's never-fan-out arm: tools/ab_bench.py --set
# htmlentityextraction_spark.sources.tables:_SCAN_REPART_MIN_BYTES
# --a 1e18 puts every table under the floor.
_SCAN_REPART_MIN_BYTES = 512 * 1024


def _input_bytes_and_files(path: str) -> tuple[int, int]:
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total, n = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            try:
                total += os.path.getsize(os.path.join(root, f))
                n += 1
            except OSError:
                continue
    return total, n


def scan_parallelism_floor(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Repartition a scan to defaultParallelism when the file layout
    provably cannot supply that many splits (see module note)."""
    try:
        nbytes, nfiles = _input_bytes_and_files(path)
    except OSError:
        return df
    if nbytes < _SCAN_REPART_MIN_BYTES:
        return df
    try:
        max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except (ValueError, TypeError):
        max_pb = 128 * 1024 * 1024
    est_splits = max(nfiles, math.ceil(nbytes / max_pb))
    target = spark.sparkContext.defaultParallelism
    if est_splits >= target:
        return df
    return df.repartition(target)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, fan_out: bool = False
) -> DataFrame:
    """Scan one fixture table. Filters/projections applied by callers
    are pushed into the parquet reader by Catalyst (verify with
    ``df.explain()`` → ``PushedFilters`` / ``ReadSchema``).

    ``fan_out=True`` opts this scan into the scan-parallelism floor
    (module note above) — pass it only at call sites whose narrow work
    above the scan measured a win in the in-session A/B.

    ``events`` may be written with TIMESTAMP(NANOS), which Spark's
    parquet reader rejects; read nanos as long (legacy conf, set
    dynamically so it also works on a session built elsewhere) and
    decode them with ``decode_event_ts``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if fan_out:
        df = scan_parallelism_floor(spark, df, path)
    return decode_event_ts(df) if name == "events" else df


def decode_event_ts(df: DataFrame) -> DataFrame:
    """Events ``ts`` read as a nanos long, as a microsecond timestamp
    (DuckDB's ns→us cast); any other ``ts`` type is left as it is.
    Integer DIV, not floor(double /): nanos exceed double's 53-bit
    mantissa and round up by 1 us on ~13% of rows."""
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
