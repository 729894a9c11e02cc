"""Per-run phase timing for stream_serve_pipeline (r12 continuation).

Mirrors the query body (queries/serve_q.stream_serve_pipeline) but
times each phase separately, N consecutive runs in ONE session, to
attribute the bench's warm-up tail (fresh benches decay
12.9 -> 8.9 -> 7.6 s across the median-of-3) to a phase:

  registry  — ml.fit_once (registry cache: run 1 only)
  fixture   — _page_messages write to parquet (incl. keyfuzz dedup)
  stream    — serve_stream availableNow start->done
  readback  — read historical/ + noop write (the bench's timed action)

Usage: python tools/serve_phase_probe.py [--runs 6] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from htmlentityextraction_spark.runner import run_scope, scratch, timed_noop_write, warm_up
    from htmlentityextraction_spark.session import get_spark
    from htmlentityextraction_spark.queries.ml import fit_once
    from htmlentityextraction_spark.queries.serve_q import _page_messages
    from htmlentityextraction_spark.streaming import serve

    spark = get_spark("serve-phase-probe")
    sf_dir = args.sf_dir
    warm_up(spark, sf_dir)

    rows = []
    try:
        for i in range(args.runs):
            t0 = time.time()
            registry = fit_once(spark, sf_dir)
            t1 = time.time()
            with run_scope(spark):
                src = scratch("serve_probe_src_")
                out = scratch("serve_probe_out_")
                _page_messages(spark, sf_dir).write.mode("overwrite").parquet(src)
                t2 = time.time()
                raw = spark.readStream.schema("value string").parquet(src)
                serve.serve_stream(spark, raw, registry, out).await_done()
                t3 = time.time()
                readback = timed_noop_write(
                    spark, "stream_serve_pipeline", lambda: spark.read.parquet(os.path.join(out, "historical"))
                )
            rec = {
                "run": i + 1,
                "registry": round(t1 - t0, 3),
                "fixture": round(t2 - t1, 3),
                "stream": round(t3 - t2, 3),
                "readback": readback,
                "total": round(t3 - t0 + readback, 3),
            }
            rows.append(rec)
            print(f"# {rec}", file=sys.stderr)
        print(json.dumps(rows))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
