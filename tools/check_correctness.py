"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 (or --sf-dir) and compares
against ``oracle_sql()`` via DuckDB: row count, sorted column names,
and an order-insensitive value hash (rows canonicalized then sorted).

This deliberately mirrors the DRIVER's canonicalization path, which
goes through pandas (``duckdb .df()`` / ``DataFrame.toPandas()``):

- DuckDB HUGEINT (what ``sum()`` over integers returns) coerces to
  float64 in pandas, so an uncast integer sum canonicalizes as ``3.0``
  against Spark's ``3`` → hash mismatch.  ``fetchall()`` would hide
  this (HUGEINT → Python int), which is exactly how round 1 shipped
  four driver-red queries that passed locally.
- list/array-typed output columns make pandas ``sort_values`` crash
  (``TypeError: unhashable type: 'list'``); we reject them outright
  on EITHER side instead of silently canonicalizing them.

Local green must imply driver green: strictly more-permissive local
checks are a bug in the gate, not a convenience.

Usage: python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


class ArrayColumnError(Exception):
    """An output column contains list/array values — the driver's
    pandas canonicalizer cannot hash these; the query must explode or
    stringify them."""


def canon(v) -> str:
    # Keep the int-vs-float distinction: the driver's canon sees
    # float64 3.0 vs int64 3 as different values, so we must too.
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        raise ArrayColumnError(f"unhashable container value in output: {type(v).__name__}")
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0.0:
            f = 0.0  # normalize -0.0
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if pd.isna(v):
        return "NULL"
    return str(v)


def frame_canon_lines(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    lines = []
    for row in df[cols].itertuples(index=False, name=None):
        lines.append("|".join(canon(v) for v in row))
    return sorted(lines)


def frame_hash(df: pd.DataFrame) -> tuple[str, list[str]]:
    lines = frame_canon_lines(df)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16], lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--timings", action="store_true", help="print per-query spark seconds sorted")
    ap.add_argument(
        "--plain-session",
        action="store_true",
        help="run with an UNTUNED SparkSession (no UTC pin, no AQE/Arrow "
        "configs) — driver-parity mode: results must not depend on the "
        "repo's session factory",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from htmlentityextraction_spark.runner import run_scope

    if args.plain_session:
        from pyspark.sql import SparkSession

        # The driver runs in a UTC container; epoch helpers interpret
        # TIMESTAMP_NTZ in the session timezone, so "plain" still
        # pins UTC — otherwise on any non-UTC host this parity mode
        # would spuriously diverge from the DuckDB oracle (which is
        # naive-epoch). Everything else stays untuned.
        spark = (
            SparkSession.builder.master("local[*]")
            .appName("correctness-plain")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate()
        )
    else:
        from htmlentityextraction_spark.session import get_spark

        spark = get_spark("correctness-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)

    con = duckdb.connect()
    for t in TABLES:
        # partial fixture dirs (e.g. the derived sf1 probe set, which
        # ships only lineitem+documents) register only what exists; a
        # query needing a missing table then fails loudly at its own
        # row, not at sweep start
        if os.path.exists(os.path.join(args.sf_dir, f"{t}.parquet")):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
            )

    failures = 0
    timings: list[tuple[float, str]] = []
    for name in names:
        t0 = time.time()
        try:
            with run_scope(spark):
                spdf = qs[name](spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            # mirror the driver: a crashed query is a recorded failure,
            # not the end of the run
            msg = str(e).splitlines()[0][:300] if str(e) else type(e).__name__
            print(f"{name}: FAIL spark side crashed: {msg}")
            failures += 1
            continue
        t_spark = time.time() - t0
        timings.append((t_spark, name))
        try:
            sh, slines = frame_hash(spdf)
        except ArrayColumnError as e:
            print(f"{name}: FAIL spark output {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(spdf)} rows, {t_spark:.1f}s spark)")
            continue
        t0 = time.time()
        try:
            ddf = con.execute(oracles[name]).df()  # pandas path — the driver's coercions
        except Exception as e:  # noqa: BLE001 — an oracle crash is a per-query FAIL, not sweep death
            msg = str(e).splitlines()[0][:300] if str(e) else type(e).__name__
            print(f"{name}: FAIL oracle crashed: {msg}")
            failures += 1
            continue
        t_duck = time.time() - t0
        hugeints = [
            c
            for c in ddf.columns
            if c in spdf.columns
            and ddf[c].dtype == np.float64
            and str(spdf[c].dtype).startswith("int")
        ]
        try:
            dh, dlines = frame_hash(ddf)
        except ArrayColumnError as e:
            print(f"{name}: FAIL oracle output {e}")
            failures += 1
            continue
        ok_count = len(spdf) == len(ddf)
        ok_schema = sorted(spdf.columns) == sorted(ddf.columns)
        ok_hash = sh == dh
        status = "OK" if (ok_count and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        extra = f" [dtype drift spark-int vs oracle-float: {hugeints}]" if (
            hugeints and not ok_hash
        ) else ""
        print(
            f"{name}: {status} rows={len(spdf)}/{len(ddf)} "
            f"schema={'ok' if ok_schema else f'{sorted(spdf.columns)} vs {sorted(ddf.columns)}'} "
            f"hash={'ok' if ok_hash else f'{sh} vs {dh}'} "
            f"({t_spark:.1f}s spark, {t_duck:.1f}s duck){extra}"
        )
        if not ok_hash and ok_schema:
            sset, dset = set(slines), set(dlines)
            for line in list(sset - dset)[:3]:
                print(f"   spark-only: {line[:200]}")
            for line in list(dset - sset)[:3]:
                print(f"   duck-only:  {line[:200]}")
    if args.timings:
        for sec, name in sorted(timings, reverse=True):
            print(f"TIMING {sec:6.1f}s  {name}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
