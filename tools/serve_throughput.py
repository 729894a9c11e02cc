"""Serve-path byte-throughput probe (THROUGHPUT.md's methodology,
committed so the numbers are reproducible round-over-round).

Builds three 30k-page JSON-message fixtures from the sf0.1 orders
construction (`queries/serve_q._page_messages`):

- ``tiny``  — the ~125 B/page control (per-page overhead);
- ``text``  — each html padded to ~10 KB with digit-free word filler
  (adds ZERO price candidates: candidates need digits);
- ``digit`` — padded with bare-integer filler (ids/counts: adds zero
  candidates too — bare runs have no separator — but stresses the
  run scan).

Then drives the FULL streaming serve path (json parse -> extraction
mapInArrow -> broadcast-registry scoring -> per-url argmax -> status ->
multiplexed sinks) over each, twice (run 1 = cold), and prints one
JSON line with pages/s, MB/s, and the marginal per-byte rate

    (padded_time - tiny_time) / (padded_bytes - tiny_bytes)

which isolates the per-byte cost from per-page + micro-batch
overhead. MB/s/core divides by SPARK_GRAFT_CPUS (default 32).

Usage: python tools/serve_throughput.py [--pages 30000] [--files 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TEXT_FILLER_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua "
).split()


def build_fixture(spark, sf_dir: str, kind: str, pages: int, files: int, dst: str):
    """Page messages with html padded per ``kind``; deterministic
    filler (keyed on o_orderkey) so runs are comparable."""
    from pyspark.sql import functions as F
    from htmlentityextraction_spark.queries.serve_q import _page_messages
    from htmlentityextraction_spark import schemas

    msgs = _page_messages(spark, sf_dir).limit(pages)
    if kind != "tiny":
        parsed = schemas.parse_page_messages(msgs)
        if kind == "text":
            unit = " ".join(TEXT_FILLER_WORDS)  # no digits: adds no runs
        elif kind == "digit":
            # bare integers: digit runs with no separator — rejected
            # inside the scan, adds no candidates
            unit = " ".join(str(1000 + 37 * i) for i in range(24))
        else:
            raise ValueError(kind)
        filler = (unit + " ") * (10240 // (len(unit) + 1) + 1)
        padded = parsed.select(
            F.to_json(
                F.struct(
                    F.col("url"),
                    # filler FIRST so snippet windows around real
                    # candidates are unchanged
                    F.concat(F.lit(filler[:10240] + " "), F.col("html")).alias("html"),
                    F.col("price"),
                    F.col("updatedPrice"),
                )
            ).alias("value")
        )
        msgs = padded
    msgs.repartition(files).write.mode("overwrite").parquet(dst)
    rows = spark.read.parquet(dst)
    n = rows.count()
    total_bytes = rows.select(F.sum(F.length("value")).alias("b")).collect()[0]["b"]
    return n, int(total_bytes)


def run_serve(spark, src: str, registry_rows) -> float:
    from htmlentityextraction_spark.runner import run_scope, scratch
    from htmlentityextraction_spark.streaming import serve

    with run_scope(spark):
        raw = spark.readStream.schema("value string").parquet(src)
        t0 = time.time()
        serve.serve_stream(spark, raw, registry_rows, scratch("thr_out_")).await_done()
        return round(time.time() - t0, 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=30000)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from htmlentityextraction_spark.session import get_spark
    from htmlentityextraction_spark.queries.ml import fit_once
    from htmlentityextraction_spark.runner import run_scope, scratch

    spark = get_spark("serve-throughput")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    registry_rows = fit_once(spark, args.sf_dir)

    results = {}
    for kind in ("tiny", "text", "digit"):
        with run_scope(spark):
            src = scratch(f"thr_src_{kind}_")
            n, nbytes = build_fixture(spark, args.sf_dir, kind, args.pages, args.files, src)
            cold = run_serve(spark, src, registry_rows)
            warm = run_serve(spark, src, registry_rows)
        results[kind] = {
            "pages": n,
            "mb": round(nbytes / 1e6, 1),
            "cold_s": cold,
            "warm_s": warm,
            "pages_per_s": round(n / warm, 1),
            "mb_per_s": round(nbytes / 1e6 / warm, 2),
        }
        print(f"# {kind}: {results[kind]}", file=sys.stderr)

    for kind in ("text", "digit"):
        dmb = results[kind]["mb"] - results["tiny"]["mb"]
        dts = results[kind]["warm_s"] - results["tiny"]["warm_s"]
        rate = dmb / dts if dts > 0 else float("inf")
        results[f"marginal_{kind}"] = {
            "mb_per_s": round(rate, 2),
            "mb_per_s_per_core": round(rate / cores, 3),
        }
    print(json.dumps({"metric": "serve_throughput", "cores": cores, **results}))
    spark.stop()


if __name__ == "__main__":
    main()
