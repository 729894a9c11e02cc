"""The measurement rules of ``functions/pricing.py`` and their DuckDB
twins give the same rows as hand-written expectations on the edge
values of the measurement domain."""

from __future__ import annotations

import math

import duckdb
import pytest

from htmlentityextraction_spark.functions.pricing import (
    finite_measure,
    finite_measure_sql,
    measure_cents,
    measure_cents_sql,
)

# (value, finite, cents): NULL, NaN, ±inf and out-of-domain magnitudes
# are not measurements; cents round half up on the binary double.
EDGES = [
    (None, False, None),
    (math.nan, False, None),
    (math.inf, False, None),
    (-math.inf, False, None),
    (1e308, False, None),
    (-1e308, False, None),
    (1e10, False, None),
    (-1e10, False, None),
    (9999999999.99, True, 999999999999),
    (-9999999999.99, True, -999999999999),
    (0.005, True, 1),
    (-0.005, True, 0),
    (2.0**53 + 1, False, None),
    (0.0, True, 0),
    (-0.0, True, 0),
]


@pytest.fixture(scope="module")
def edges():
    return [(i, v, finite, cents) for i, (v, finite, cents) in enumerate(EDGES)]


def _check(rows, edges):
    got = {i: (finite, cents) for i, finite, cents in rows}
    want = {i: (finite, cents) for i, _, finite, cents in edges}
    assert got == want


def test_finite_measure_and_cents_on_spark(spark, edges):
    df = spark.createDataFrame([(i, v) for i, v, _, _ in edges], "i int, v double")
    rows = df.select("i", finite_measure("v").alias("finite"), measure_cents("v").alias("cents")).collect()
    assert df.select(measure_cents("v").alias("c")).dtypes == [("c", "bigint")]
    _check([tuple(r) for r in rows], edges)


def test_finite_measure_and_cents_on_duckdb(edges):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, v) for i, v, _, _ in edges])
    rows = con.execute(
        f"SELECT i, {finite_measure_sql('v')}, {measure_cents_sql('v')} FROM t"
    ).fetchall()
    assert con.execute(f"SELECT typeof({measure_cents_sql('v')}) FROM t LIMIT 1").fetchone()[0] == "BIGINT"
    _check(rows, edges)
