"""Row-level diff between a registered query and its DuckDB oracle on
one fixture dir — the finding-triage companion to check_correctness.

Canonicalizes both sides with the gate's own ``frame_canon_lines``
over the same pandas frames the gate hashes (``toPandas()`` and DuckDB
``.df()``, HUGEINT → float64 included), then prints rows unique to
each side (up to --limit), so a hash mismatch becomes a visible value
delta.

Usage: python tools/query_diff.py QUERY --sf-dir /tmp/fuzzdir [--limit 20]
"""
from __future__ import annotations

import argparse
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_correctness import TABLES, frame_canon_lines  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--limit", type=int, default=20)
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from htmlentityextraction_spark.session import get_spark

    spark = get_spark("query_diff")
    spdf = entrymod.queries()[args.name](spark, args.sf_dir).toPandas()
    srows = frame_canon_lines(spdf)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    orows = frame_canon_lines(con.execute(entrymod.oracle_sql()[args.name]).df())

    sc, oc = Counter(srows), Counter(orows)
    only_s = list((sc - oc).elements())
    only_o = list((oc - sc).elements())
    print(f"spark rows={len(srows)} oracle rows={len(orows)} cols={sorted(spdf.columns)}")
    print(f"only-in-spark: {len(only_s)}  only-in-oracle: {len(only_o)}")
    for tag, rows in (("SPARK", only_s), ("ORACLE", only_o)):
        for r in sorted(rows)[: args.limit]:
            print(f"  {tag}: {r}")
    spark.stop()


if __name__ == "__main__":
    main()
